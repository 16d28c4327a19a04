"""Time travel on a manifest table: :func:`read_as_of` a version or a
timestamp, :func:`history`, :func:`schema_history`, the change feeds
:func:`diff` and :func:`change_feed`, :func:`consistent_snapshot`
across tables, and RESTORE (:func:`restore_version`). Versions are
POSITIONS in the current log; commit files are immutable and data
files never rewritten, so each stays readable until a vacuum.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.sources.manifest import (
    PK,
    CommitConflictError,
    ManifestTable,
    _publish,
    _record,
)
from smart_meter_data_pipeline_spark.sources.manifest_skipping import (
    _read_pruned,
)


def read_as_of(
    table: ManifestTable,
    spark: SparkSession,
    version: int | None = None,
    asof: float | None = None,
    where: dict | None = None,
    where_in: dict | None = None,
) -> DataFrame | None:
    """The table AS OF commit ``version`` (inclusive — ``version=0``
    is the first commit's view), or AS OF the unix-seconds timestamp
    ``asof``, resolved by :func:`version_asof` (mutually exclusive;
    with neither, the current table). ``where`` and ``where_in``
    prune as in :func:`.manifest_skipping.read_where`, except that a
    time-travel read never consults a posting index."""
    if version is not None and asof is not None:
        raise ValueError("pass at most one of version / asof")
    if asof is not None:
        version = version_asof(table, asof)
    numbered = table.numbered_snapshot()
    if version is not None:
        if version < 0 or version >= len(numbered):
            raise ValueError(
                f"version {version} out of range: table has "
                f"{len(numbered)} commits"
            )
        numbered = numbered[: version + 1]
    return _read_pruned(
        table, spark, numbered, where, where_in, version is None
    )


def version_asof(table: ManifestTable, ts: float) -> int:
    """TIMESTAMP AS OF resolution (Delta semantics): the latest
    positional version whose commit landed at or before ``ts``.
    Commits written before timestamp tracking fall back to the
    commit file's mtime. Raises when ``ts`` predates the first
    commit (nothing existed to read), matching Delta's
    `timestampAsOf` error contract."""
    best = None
    for i, (num, c) in enumerate(table.numbered_snapshot()):
        at = c.get("committed_at")
        if at is None:
            try:
                at = os.path.getmtime(table._commit_path(num))
            except OSError:
                continue
        if at <= ts:
            best = i
    if best is None:
        raise ValueError(
            f"timestamp {ts} predates the first commit of "
            f"{table.table_dir}"
        )
    return best


def history(table: ManifestTable) -> list[dict]:
    """Audit view of the commit log: one dict per version with the
    commit's file count and covered dates — the `DESCRIBE HISTORY`
    of the manifest world. Metadata-only (no data read)."""
    return [
        {
            "version": i,
            "n_files": len(c["added"]),
            "n_removed": len(c.get("removed", [])),
            "dates": sorted(c.get("dates", [])),
        }
        for i, c in enumerate(table.snapshot())
    ]


def diff(
    table: ManifestTable, spark: SparkSession, v_from: int, v_to: int
) -> DataFrame | None:
    """Change-data feed between two versions: the rows appended by
    commits (``v_from``, ``v_to``] — i.e. ``read(v_to)`` minus
    ``read(v_from)``, computed WITHOUT any anti-join because the
    log is append-only and data files are immutable: the delta is
    exactly the files those commits added, so the read cost scales
    with the CHANGE, not the table (the property CDC consumers —
    incremental mart refresh, downstream sync — rely on at 100 TB).
    ``v_from = -1`` diffs from the empty table. Returns None when
    the range adds no files. With copy-on-write mutations in the
    range, this is the POST-IMAGE feed: an upsert's rewritten
    files appear whole (their unchanged survivor rows included),
    and deletes are visible only through the removed-file
    metadata, not as rows — consumers needing row-level
    delete events should diff metadata via :func:`history`."""
    commits = table.snapshot()
    if not (-1 <= v_from <= v_to < len(commits)):
        raise ValueError(
            f"bad version range ({v_from}, {v_to}] for "
            f"{len(commits)} commits"
        )
    files = table._files(commits[v_from + 1 : v_to + 1])
    if not files:
        return None
    # Same evolved-schema discipline as read(): the range can span
    # a schema-evolution boundary, and a plain read would infer
    # whichever file Spark samples — non-deterministically dropping
    # later-added columns from the change feed.
    schema = table._evolved_schema(commits[: v_to + 1])
    return table._read_files(spark, files, schema)


def change_feed(
    table: ManifestTable,
    spark: SparkSession,
    v_from: int,
    v_to: int,
    pk: list[str] = PK,
) -> DataFrame | None:
    """ROW-LEVEL change data feed between two versions — the Delta
    CDF shape: one row per changed row, tagged ``_change_type`` ∈
    {insert, delete, update_preimage, update_postimage}. Computed
    from the SNAPSHOT FILE DIFFERENCE, so the cost scales with the
    CHANGED FILES, not the table: files live in both snapshots are
    immutable and therefore untouched; files only in the old
    snapshot hold candidate pre-images, files only in the new one
    candidate post-images. A full-outer PK join of just those two
    sides classifies every row — and rewritten-survivor rows
    (identical pre/post, an artifact of copy-on-write file
    granularity) are filtered out by comparing the non-PK columns,
    so the feed contains exactly the logical changes.

    Columns are aligned under each side's evolved schema (missing
    columns read as NULL), with the value comparison
    NULL-safe (``<=>``). ``v_from = -1`` diffs from the empty
    table (everything is an insert). Returns None when the
    snapshots share every file. Complements :func:`diff` (the
    cheaper post-image/file-level feed) — use this one when the
    consumer needs deletes and pre-images."""
    commits = table.snapshot()
    if not (-1 <= v_from <= v_to < len(commits)):
        raise ValueError(
            f"bad version range ({v_from}, {v_to}] for "
            f"{len(commits)} commits"
        )
    live_from = (
        set(table._files(commits[: v_from + 1])) if v_from >= 0 else set()
    )
    live_to = set(table._files(commits[: v_to + 1]))
    pre_files = sorted(live_from - live_to)
    post_files = sorted(live_to - live_from)
    if not pre_files and not post_files:
        return None

    def _read(files, upto):
        if not files:
            return None
        schema = table._evolved_schema(commits[: upto + 1])
        return table._read_files(spark, files, schema)

    pre = _read(pre_files, v_from if v_from >= 0 else v_to)
    post = _read(post_files, v_to)
    if pre is None:
        return post.withColumn("_change_type", F.lit("insert"))
    if post is None:
        return pre.withColumn("_change_type", F.lit("delete"))
    # align columns across a schema-evolution boundary
    all_cols = list(
        dict.fromkeys([*pre.columns, *post.columns])
    )
    def _pad(df):
        for c in all_cols:
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None))
        return df.select(*all_cols)
    pre, post = _pad(pre), _pad(post)
    val_cols = [c for c in all_cols if c not in pk]
    p_ = pre.select(
        *[F.col(c).alias(f"__pre_{c}") for c in all_cols]
    )
    q_ = post.select(
        *[F.col(c).alias(f"__post_{c}") for c in all_cols]
    )
    cond = [
        p_[f"__pre_{k}"] == q_[f"__post_{k}"] for k in pk
    ]
    j = p_.join(q_, cond, "full_outer")
    pre_key = F.coalesce(*[p_[f"__pre_{k}"] for k in pk[:1]])
    post_key = F.coalesce(*[q_[f"__post_{k}"] for k in pk[:1]])
    same_vals = (
        F.lit(True)
        if not val_cols
        else None
    )
    if val_cols:
        expr = p_[f"__pre_{val_cols[0]}"].eqNullSafe(
            q_[f"__post_{val_cols[0]}"]
        )
        for c in val_cols[1:]:
            expr = expr & p_[f"__pre_{c}"].eqNullSafe(
                q_[f"__post_{c}"]
            )
        same_vals = expr
    inserts = j.filter(pre_key.isNull()).select(
        *[q_[f"__post_{c}"].alias(c) for c in all_cols],
        F.lit("insert").alias("_change_type"),
    )
    deletes = j.filter(post_key.isNull()).select(
        *[p_[f"__pre_{c}"].alias(c) for c in all_cols],
        F.lit("delete").alias("_change_type"),
    )
    changed = j.filter(
        pre_key.isNotNull() & post_key.isNotNull() & ~same_vals
    )
    pre_img = changed.select(
        *[p_[f"__pre_{c}"].alias(c) for c in all_cols],
        F.lit("update_preimage").alias("_change_type"),
    )
    post_img = changed.select(
        *[q_[f"__post_{c}"].alias(c) for c in all_cols],
        F.lit("update_postimage").alias("_change_type"),
    )
    return (
        inserts.unionByName(deletes)
        .unionByName(pre_img)
        .unionByName(post_img)
    )


def _net_relfiles(table: ManifestTable, commits: list[dict]) -> list[str]:
    """Data-dir-relative live files after replaying ``commits`` —
    the compaction-base form of ``ManifestTable._files``."""
    return [
        os.path.relpath(p, table.data_dir)
        for p in table._files(commits)
    ]


def schema_history(table: ManifestTable) -> list[dict]:
    """Schema-evolution audit — the schema half of DESCRIBE HISTORY:
    one entry per commit that CHANGED the read schema, with the
    columns it added and dropped (drop markers and additive evolution
    both). Metadata-only (one log listing); the tool an operator
    reaches for when a consumer breaks on a column that 'used to be
    there'."""
    out: list[dict] = []
    prev: dict[str, object] = {}
    running: list[dict] = []
    for n, c in table.numbered_snapshot():
        running.append(c)
        cur_schema = ManifestTable._evolved_schema(running)
        cur = (
            {f.name: f.dataType.simpleString() for f in cur_schema.fields}
            if cur_schema is not None
            else {}
        )
        added = sorted(k for k in cur if k not in prev)
        dropped = sorted(k for k in prev if k not in cur)
        if added or dropped:
            out.append(
                {
                    "version": n,
                    "added_columns": added,
                    "dropped_columns": dropped,
                }
            )
        prev = cur
    return out


def consistent_snapshot(
    tables: dict[str, ManifestTable],
    spark: SparkSession,
    asof: float,
) -> dict[str, DataFrame | None]:
    """One TIMESTAMP across many tables — the cross-table consistent
    read a multi-table report needs (each manifest table commits
    independently, so 'latest of A' joined to 'latest of B' can mix
    states that never coexisted; resolving EVERY table AS OF the same
    instant yields a state that actually existed, because each
    table's commit log is totally ordered by committed_at). Tables
    with no commit at or before ``asof`` map to None (they did not
    exist yet). Metadata-only resolution (:func:`version_asof`), one read
    per table."""
    out: dict[str, DataFrame | None] = {}
    for name, t in tables.items():
        try:
            out[name] = read_as_of(t, spark, asof=asof)
        except ValueError:
            out[name] = None
    return out


def restore_version(table: ManifestTable, version: int) -> dict:
    """RESTORE TABLE ... TO VERSION — roll the table's LIVE state back
    to what ``version`` saw, as ONE new commit and ZERO data movement:
    the commit re-adds the target version's file references that later
    commits removed and removes files later commits added (Delta's
    RESTORE is the same metadata move). History is preserved — the
    reverted commits stay in the log, time travel still reaches them,
    and the restore itself is just another version that concurrent
    readers flip to atomically.

    Requires every target file to still exist (an aged vacuum after a
    compaction can have reclaimed CoW originals — then the restore
    point is gone and this raises instead of publishing a half-readable
    state). Additive schema evolution is NOT reverted: the read
    schema stays the union of all recorded schemas, so post-version
    columns read as NULL on restored rows — documented Delta-parity
    gap (Delta restores the schema pointer; a union-schema log has no
    pointer to move).

    Runs under the table flock; publishes via put-if-absent at a fence
    from the same listing it validated against (lost race → clean
    retry). Returns {"files_readded": n, "files_removed": m,
    "restored_version": version}."""
    from smart_meter_data_pipeline_spark.sources.txn import table_lock

    with table_lock(table.table_dir):
        for _ in range(5):
            numbered = table.numbered_snapshot()
            commits = [c for _, c in numbered]
            if not (0 <= version < len(commits)):
                raise ValueError(
                    f"version {version} out of range: table has "
                    f"{len(commits)} commits"
                )
            fence = table._fence(numbered)
            target = set(_net_relfiles(table, commits[: version + 1]))
            current = set(_net_relfiles(table, commits))
            readd = sorted(target - current)
            remove = sorted(current - target)
            missing = [
                f
                for f in readd
                if not os.path.exists(os.path.join(table.data_dir, f))
            ]
            if missing:
                raise ValueError(
                    f"cannot restore to version {version}: "
                    f"{len(missing)} of its files were vacuumed "
                    f"(e.g. {missing[0]})"
                )
            if not readd and not remove:
                return {
                    "files_readded": 0,
                    "files_removed": 0,
                    "restored_version": version,
                }
            # Every date a reverted commit TOUCHED is re-derived by the
            # rollback — not only the dates it added rows to ("dates")
            # but also dates it removed rows from (a reverted CoW
            # delete that emptied a date re-adds that date's rows) and
            # dates it restated ("batch_dates"). Missing any of them
            # leaves changed_dates_since blind and incremental marts
            # stale.
            reverted_dates = sorted(
                {
                    d
                    for c in commits[version + 1 :]
                    for d in (
                        list(c.get("dates", []))
                        + list(c.get("removed_dates", []))
                        + list(c.get("batch_dates", []))
                    )
                }
            )
            record = _record(
                table,
                readd,
                removed=remove,
                # count/dates describe the re-added files: their
                # dates come from the commits that first added
                # them, which the target prefix recorded.
                dates={
                    d for c in commits[: version + 1] for d in c.get("dates", [])
                },
                schema=table._evolved_schema(commits[: version + 1]),
                removed_dates=reverted_dates,
                batch_dates=[],
                restore_of=version,
            )
            if _publish(
                table._commit_path(fence),
                fence,
                table._pre_publish_hook,
                **record,
            ):
                return {
                    "files_readded": len(readd),
                    "files_removed": len(remove),
                    "restored_version": version,
                }
        raise CommitConflictError(
            f"restore gave up after 5 attempts on {table.table_dir}"
        )
