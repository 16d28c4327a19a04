"""Copy-on-write mutations of a manifest table: DELETE by key, MERGE
(upsert) and range DELETE (the Delta MERGE/DELETE shape).

Affected files are rewritten minus/with the matched rows, and one
commit atomically lists the rewrites as ``added`` and the originals as
``removed``. Data files are never modified IN PLACE, so historical
versions stay readable; removed files become vacuumable once
compaction nets them out of the log. Copy-on-write is the only way
rows leave the table.
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
    _prune_by_stats,
    _prune_candidates_by_bloom,
    _stats_comparable,
)


class _SnapshotAdvancedError(RuntimeError):
    """Internal: a fence-pinned mutation found the table advanced past
    the snapshot its batch was derived from — the caller must
    re-derive (re-enrich / re-filter) against the new image and try
    again. Never escapes the public API: :func:`upsert_partial` and
    :func:`upsert_if_newer` catch it inside their own retry loops."""


def _rel(table: ManifestTable, file_uri: str) -> str:
    """input_file_name() URI → data-dir-relative path."""
    from urllib.parse import unquote, urlparse

    p = urlparse(file_uri).path or file_uri
    return os.path.relpath(unquote(p), table.data_dir)


def _count_and_dates(
    table: ManifestTable, spark: SparkSession, rel_files: list[str]
) -> tuple[int, list[str]]:
    """Rows and distinct ``reading_timestamp`` dates of staged
    files, from one aggregation job. A dateless table (no
    ``reading_timestamp``) records no dates."""
    if not rel_files:
        return 0, []
    sdf = spark.read.parquet(
        *(os.path.join(table.data_dir, f) for f in rel_files)
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    has_ts = "reading_timestamp" in sdf.columns
    if has_ts:
        aggs.append(
            F.collect_set(
                F.to_date("reading_timestamp").cast("string")
            ).alias("dates")
        )
    row = sdf.agg(*aggs).collect()[0]
    return row["n"], sorted(row["dates"]) if has_ts else []


def _batch_key_ranges(keys: DataFrame, stat_cols: list[str]) -> dict:
    """Engine-side {col: (min, max)} over the mutation batch's key
    frame. TIMESTAMP columns are reduced to UTC epoch MICROSECONDS
    inside Spark (``unix_micros``) BEFORE collect(): a collected
    TimestampType value arrives as a NAIVE datetime in the
    DRIVER'S LOCAL timezone (``TimestampType.fromInternal`` uses
    ``datetime.fromtimestamp``), so feeding it to _stat_int's
    naive-is-UTC rule on a non-UTC host shifts the prune window by
    the UTC offset — skipping files that still hold stale rows and
    resurrecting duplicate PKs (the same unsoundness class as the
    round-9 non-pk-column fix). Integers collect exactly;
    TIMESTAMP_NTZ collects as the literal wall value with no TZ
    conversion, which IS UTC by session contract, so only the
    tz-aware type needs the engine-side conversion."""
    from pyspark.sql import types as T

    if not stat_cols:
        return {}
    exprs = []
    for i, c in enumerate(stat_cols):
        e = F.col(c)
        if isinstance(keys.schema[c].dataType, T.TimestampType):
            e = F.unix_micros(e)
        exprs.append(F.min(e).alias(f"mn{i}"))
        exprs.append(F.max(e).alias(f"mx{i}"))
    row = keys.agg(*exprs).collect()[0]
    return {
        c: (row[f"mn{i}"], row[f"mx{i}"])
        for i, c in enumerate(stat_cols)
    }


def delete_keys(
    table: ManifestTable,
    spark: SparkSession,
    keys: DataFrame,
    pk: list[str] = PK,
    max_retries: int = 5,
) -> int:
    """Copy-on-write DELETE by primary key — ``DELETE FROM t WHERE
    (pk) IN keys`` in the manifest world. Only files that actually
    contain a matching key are rewritten (minus the matches); one
    commit lists the rewrites as ``added`` and the originals as
    ``removed``, so readers flip atomically and historical
    versions still see the old files (time travel keeps working
    until compaction + vacuum reclaim them — Delta's
    delete/vacuum lifecycle).

    Same lock-free optimistic protocol as the append, but
    mutations retry FROM SCRATCH on a lost race (the file set they
    rewrote may have changed); the date-pruned candidate scan is
    sound for PK matching because the PK embeds the timestamp the
    commit dates are derived from. Returns rows deleted."""
    n, _ = _cow_mutation(table, spark, keys, None, pk, max_retries)
    return n


def upsert(
    table: ManifestTable,
    spark: SparkSession,
    batch: DataFrame,
    pk: list[str] = PK,
    max_retries: int = 5,
    _expected_fence: int | None = None,
) -> dict:
    """Copy-on-write MERGE — ``WHEN MATCHED THEN UPDATE SET *,
    WHEN NOT MATCHED THEN INSERT *`` keyed on ``pk``. The
    reference's sink is insert-only (``ON CONFLICT DO NOTHING``,
    consumer/meter_consumer.py:104-114); this is the full upsert a
    re-statement/correction feed needs (late meter re-reads with
    amended values), shaped like Delta MERGE: matched rows'
    files are rewritten with the batch's post-image, unmatched
    batch rows append, one atomic commit carries both.

    Returns ``{"updated": n, "inserted": n}``."""
    u, i = _cow_mutation(
        table,
        spark,
        batch,
        batch,
        pk,
        max_retries,
        expected_fence=_expected_fence,
    )
    return {"updated": u, "inserted": i}


def upsert_partial(
    table: ManifestTable,
    spark: SparkSession,
    batch: DataFrame,
    pk: list[str] = PK,
    max_retries: int = 5,
) -> dict:
    """MERGE with a PARTIAL-column batch — ``WHEN MATCHED THEN
    UPDATE SET <only the batch's columns>``: the unspecified
    columns CARRY FORWARD from the current row (a plain
    :func:`upsert` replaces matched rows wholesale and would null
    them, which is why it rejects partial batches loudly). Done
    the only sound way under copy-on-write: enrich the batch
    against the CURRENT table image (one pk-keyed left join —
    matched rows pick up their unspecified columns, genuinely new
    keys keep NULLs there, exactly Delta's
    ``UPDATE SET col = source.col`` semantics), then run the
    standard full-row upsert. The enrichment is FENCE-PINNED to
    the snapshot it was derived from: the inner upsert may only
    commit at that exact log position, so a concurrent writer
    landing between the enrichment read and the commit forces a
    full RE-ENRICHMENT against the new image instead of silently
    overwriting the concurrent change with pre-snapshot
    carried-forward values (the lost-update Delta MERGE raises a
    concurrent-modification conflict for — here it retries with
    fresh values, aborting only after ``max_retries``)."""
    for _ in range(max_retries):
        fence = table._fence(table.numbered_snapshot())
        # read() lists again; if a commit lands in between, the
        # image is NEWER than the fence and the fence-pinned
        # commit below fails into a re-derive — never the
        # reverse (commit numbers are dense, so the pinned
        # fence succeeding proves no later state existed).
        current = table.read(spark)
        missing = (
            [
                f.name
                for f in current.schema.fields
                if f.name not in set(batch.columns)
            ]
            if current is not None
            else []
        )
        if current is None or not missing:
            # nothing is derived from the snapshot (full-column
            # batch, or empty table) — no pin needed, the plain
            # upsert's own optimistic retries are sufficient
            return upsert(table, spark, batch, pk, max_retries)
        try:
            enriched = (
                batch.alias("b")
                .join(current.alias("t"), pk, "left")
                .select(
                    *[F.col(f"b.{c}") for c in batch.columns],
                    *[F.col(f"t.{c}") for c in missing],
                )
                .localCheckpoint(eager=True)
            )
            return upsert(
                table,
                spark,
                enriched,
                pk,
                max_retries,
                _expected_fence=fence,
            )
        except _SnapshotAdvancedError:
            continue
    raise CommitConflictError(
        f"gave up after {max_retries} upsert_partial re-enrichment "
        f"attempts on {table.table_dir}"
    )


def upsert_if_newer(
    table: ManifestTable,
    spark: SparkSession,
    batch: DataFrame,
    version_col: str,
    pk: list[str] = PK,
    max_retries: int = 5,
) -> dict:
    """MERGE guarded by a version/recency column — ``WHEN MATCHED
    AND source.{version_col} >= target.{version_col} THEN UPDATE``:
    the out-of-order-feed protection every CDC consumer needs (a
    replayed or late batch must never regress a row that already
    holds newer data). Batch rows older than the current row are
    DROPPED before the mutation (one pk-keyed left join against
    the current image); ties update (idempotent replay of the
    newest batch stays a no-op in effect). The staleness filter
    is FENCE-PINNED to the snapshot it was evaluated against: a
    concurrent upsert advancing a row's version between the guard
    evaluation and the commit forces a RE-FILTER against the new
    image — otherwise the retry would regress that row with the
    batch's now-stale value, violating the method's own
    never-regress contract. Returns the plain upsert counters
    plus ``skipped_stale``."""
    for _ in range(max_retries):
        fence = table._fence(table.numbered_snapshot())
        current = table.read(spark)
        try:
            if current is None:
                res = upsert(
                    table,
                    spark,
                    batch,
                    pk,
                    max_retries,
                    _expected_fence=fence,
                )
                return dict(res, skipped_stale=0)
            cur_v = current.select(
                *pk, F.col(version_col).alias("_cur_v")
            )
            tagged = batch.join(cur_v, pk, "left").localCheckpoint(
                eager=True
            )
            fresh = tagged.filter(
                F.col("_cur_v").isNull()
                | (F.col(version_col) >= F.col("_cur_v"))
            ).drop("_cur_v")
            n_stale = tagged.count() - fresh.count()
            res = upsert(
                table,
                spark,
                fresh,
                pk,
                max_retries,
                _expected_fence=fence,
            )
            return dict(res, skipped_stale=int(n_stale))
        except _SnapshotAdvancedError:
            continue
    raise CommitConflictError(
        f"gave up after {max_retries} upsert_if_newer re-filter "
        f"attempts on {table.table_dir}"
    )


def _cow_mutation(
    table: ManifestTable,
    spark: SparkSession,
    keys: DataFrame,
    batch: DataFrame | None,
    pk: list[str],
    max_retries: int,
    expected_fence: int | None = None,
) -> tuple[int, int]:
    """Shared copy-on-write engine for delete (``batch=None``) and
    upsert. Per attempt: one log listing supplies BOTH the
    validated file set and the publish fence (the same invariant
    as idempotent_append); affected files are found by a
    date-pruned candidate scan tagged with input_file_name();
    survivors (minus matches) and the upsert batch are staged; a
    single commit adds the rewrites and removes the originals.
    A lost put-if-absent discards the stage and reruns the whole
    attempt against the new log."""
    if batch is not None:
        table._check_constraints(batch)
    in_keys = keys.dropDuplicates(pk).persist()
    try:
        # Date pruning is sound ONLY when the timestamp is part of
        # the match key: then a matched row's date equals its
        # batch key's date by definition. Under a timestamp-free
        # pk (e.g. latest-state tables keyed on meter_id alone) a
        # restatement MOVES the row to a new date — pruning by the
        # batch's NEW dates would skip the file holding the stale
        # OLD row and duplicate the key (the same unsoundness
        # class as non-pk stats pruning, round-9 rule).
        # Emptiness, total key count and distinct dates come from
        # ONE per-date rollup job (r14, guide §1.2); n_total_keys
        # also serves the pure-insert n_inserted branch below, so
        # a no-match upsert pays no extra count action.
        batch_dates_set: set[str] = set()
        if "reading_timestamp" in in_keys.columns:
            per_date_keys = (
                in_keys.groupBy(
                    F.to_date("reading_timestamp").alias("d")
                )
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            n_total_keys = sum(r["n"] for r in per_date_keys)
            batch_dates_set = {str(r["d"]) for r in per_date_keys}
        else:
            n_total_keys = in_keys.count()
        if n_total_keys == 0:
            return 0, 0
        ts_in_pk = "reading_timestamp" in pk
        key_dates = batch_dates_set if ts_in_pk else None
        for _ in range(max_retries):
            numbered = table.numbered_snapshot()
            commits = [c for _, c in numbered]
            fence = table._fence(numbered)
            if expected_fence is not None and fence != expected_fence:
                # The batch was derived from (enriched against /
                # filtered by) a snapshot that no longer heads the
                # log — committing it would overwrite whatever the
                # concurrent writer changed with pre-snapshot
                # values (a lost update). Hand control back to the
                # caller to re-derive against the current image.
                raise _SnapshotAdvancedError(
                    f"{table.table_dir} advanced past fence "
                    f"{expected_fence} (now {fence})"
                )
            table._check_schema_compat(in_keys, commits)
            if batch is not None:
                # MERGE "UPDATE SET *" contract: matched rows are
                # REPLACED by batch rows, so a batch missing table
                # columns would silently null them on every
                # matched row. Reject loudly (Delta errors here
                # too); a partial-column restatement should enrich
                # against read() first.
                tbl_schema = table._evolved_schema(commits)
                if tbl_schema is not None:
                    missing = [
                        f.name
                        for f in tbl_schema.fields
                        if f.name not in set(in_keys.columns)
                    ]
                    if missing:
                        raise ValueError(
                            "upsert batch is missing table "
                            f"columns {missing}: matched rows are "
                            "replaced wholesale (UPDATE SET *), "
                            "which would null these columns — "
                            "join the batch against read() to "
                            "carry forward unchanged values"
                        )
            cand = table._files(commits, key_dates)
            # Candidate files can span schema versions: read them
            # under the evolved schema (pre-evolution files yield
            # NULL for later columns) — a plain read would infer
            # one file's schema and silently drop the others'
            # columns from the rewrite.
            ev_schema = table._evolved_schema(commits)
            # File skipping: the batch's range on every MATCH-KEY
            # stats column vs each file's recorded min/max — a
            # restatement targeting one meter range touches only
            # that range's files, from metadata alone. ONLY pk
            # columns are sound here (round-9 fix): matching is by
            # pk, and a non-key column's value can CHANGE across a
            # restatement — pruning by the batch's NEW value range
            # would skip the file holding the stale OLD row and
            # resurrect it next to its replacement (duplicate PK).
            stat_cols = [
                c
                for c in table.stats_columns
                if c in pk and c in in_keys.columns
            ]
            key_ranges = _batch_key_ranges(in_keys, stat_cols)
            cand = _prune_by_stats(table, cand, commits, key_ranges)
            # bloom pruning under the same pk-only rule: project
            # the key frame to the match keys so a non-key bloom
            # column's restated values can never skip a file that
            # still holds the stale row
            cand = _prune_candidates_by_bloom(
                table, cand, commits, in_keys.select(*pk)
            )
            staged: list[str] = []
            removed_rel: list[str] = []
            n_matched = 0
            if cand:
                tagged = table._read_files(
                    spark, cand, ev_schema
                ).withColumn("_file", F.input_file_name())
                # No broadcast hint: a restatement batch can be
                # arbitrarily large — let AQE pick broadcast when
                # the key set is small and shuffle when it isn't.
                matched = tagged.join(
                    in_keys.select(*pk), pk, "left_semi"
                )
                # ONE job for n_matched AND the affected-file list
                # (r14, guide §1.2): these used to be two separate
                # actions — a count, then a distinct-_file collect —
                # each paying the full candidate scan + semi-join.
                # The per-file rollup returns both from one scan;
                # the collect is metadata-scale (≤ one row per
                # candidate file).
                per_file = (
                    matched.groupBy("_file")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                )
                n_matched = sum(r["n"] for r in per_file)
                if n_matched:
                    affected_uris = [r["_file"] for r in per_file]
                    removed_rel = sorted(
                        _rel(table, u) for u in affected_uris
                    )
                    survivors = (
                        tagged.filter(
                            F.col("_file").isin(affected_uris)
                        )
                        .join(
                            in_keys.select(*pk),
                            pk,
                            "left_anti",
                        )
                        .drop("_file")
                    )
                    staged = table._stage(survivors)
            if batch is not None:
                # in_keys IS the deduped batch (upsert passes the
                # batch as its key frame): every batch row lands —
                # matched ones as the post-image of their rewritten
                # files' rows, the rest as inserts. The insert-
                # detection anti-join probes only the AFFECTED
                # files (r14): a file holding ≥1 matching row is by
                # definition affected, so candidate-but-unaffected
                # files cannot contain any batch key — re-scanning
                # them here was pure waste.
                if cand and n_matched:
                    # The isin() is a per-row chain of URI string
                    # compares — worth it only when it actually
                    # drops files; a full-table restatement
                    # (every candidate affected) skips it.
                    probe = (
                        tagged.filter(
                            F.col("_file").isin(affected_uris)
                        )
                        if len(affected_uris) < len(cand)
                        else tagged
                    ).select(*pk)
                    n_inserted = in_keys.join(
                        probe, pk, "left_anti"
                    ).count()
                else:
                    n_inserted = n_total_keys
                staged = staged + table._stage(in_keys)
            else:
                n_inserted = 0
                if n_matched == 0:
                    return 0, 0
            # Commit dates = dates of ALL added files (survivors
            # can carry dates outside the mutation keys' range —
            # omitting them would let a future append's date-pruned
            # validation miss those rows and double-insert); count
            # = rows the added files physically hold.
            n_staged, added_dates = _count_and_dates(table, spark, staged)
            record = _record(
                table,
                staged,
                removed=removed_rel,
                count=n_staged,
                dates=added_dates,
                # CDC metadata: the dates the matched (removed
                # or re-stated) rows lived on — the only
                # record of a date a DELETE emptied entirely,
                # which the post-image diff cannot see. With a
                # timestamp-free pk the matched rows may live
                # on dates OUTSIDE the batch's — over-
                # approximate with every commit date (CDC
                # consumers re-read more, never less).
                removed_dates=(
                    []
                    if not n_matched
                    else sorted(batch_dates_set)
                    if ts_in_pk
                    else sorted(
                        {
                            d
                            for c in commits
                            for d in c.get("dates", [])
                        }
                    )
                ),
                # The batch's own dates: with removed_dates
                # this is the EXACT changed-date set of a
                # mutation, letting incremental consumers skip
                # reading survivor files (whose full date
                # range is mostly unchanged rows).
                batch_dates=(
                    sorted(batch_dates_set)
                    if batch is not None
                    else []
                ),
                schema=in_keys.schema if batch is not None else ev_schema,
            )
            if _publish(
                table._commit_path(fence),
                fence,
                table._pre_publish_hook,
                **record,
            ):
                if batch is not None:
                    return n_matched, n_inserted
                return n_matched, 0
            # Lost the race: the file set we rewrote may have
            # changed under us — discard and rerun from scratch.
            table._discard_stage_all(staged)
        raise CommitConflictError(
            f"gave up after {max_retries} mutation attempts on "
            f"{table.table_dir}"
        )
    finally:
        in_keys.unpersist()


def _classify_footers_distributed(
    spark: SparkSession,
    paths: list[str],
    column: str,
    lo_i,
    hi_i,
) -> list[tuple]:
    """Footer-based retention classification for files the commit log
    cannot classify (written before null-count tracking, or a column
    outside ``stats_columns``) — run as a SPARK JOB over the path
    list, one bounded ``(path, class, rows)`` tuple per file back to
    the driver. This is the fallback half of stats-first
    ``delete_where``: at 10⁵-10⁶ files a serial driver loop of
    footer reads is a million metadata round-trips before a single
    delete lands; distributing it prices the sweep at one short
    all-executor stage. The closure is fully self-contained (inlined
    stat normalization, imports inside) — Python workers launched
    outside the repo cannot resolve package references.

    Classes: ``drop`` (fully covered by [lo, hi], null-free — whole
    file deletable by metadata), ``disjoint`` (untouched), and
    ``rewrite`` (straddling, null-bearing, or footer-statless)."""
    if not paths:
        return []
    sc = spark.sparkContext
    n_slices = max(1, min(len(paths), sc.defaultParallelism * 4))
    col_name = column

    def _part(it):
        import datetime as dtmod

        import pyarrow.parquet as pq

        def norm(v):
            if isinstance(v, bool):
                return None
            if isinstance(v, int):
                return v
            if isinstance(v, float):
                return None if v != v else v
            if isinstance(v, dtmod.datetime):
                if v.tzinfo is None:
                    v = v.replace(tzinfo=dtmod.timezone.utc)
                return int(v.timestamp() * 1_000_000)
            return None

        for p in it:
            md = pq.read_metadata(p)
            mn = mx = None
            nulls = 0
            known = True
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                got = False
                for j in range(rg.num_columns):
                    col = rg.column(j)
                    if col.path_in_schema != col_name:
                        continue
                    got = True
                    s = col.statistics
                    if (
                        s is None
                        or not s.has_min_max
                        or s.null_count is None
                    ):
                        known = False
                        break
                    smn, smx = norm(s.min), norm(s.max)
                    if smn is None or smx is None:
                        known = False
                        break
                    nulls += s.null_count
                    mn = smn if mn is None else min(mn, smn)
                    mx = smx if mx is None else max(mx, smx)
                if not got or not known:
                    known = False
                    break
            if not known or mn is None:
                yield (p, "rewrite", 0)
            elif mx < lo_i or mn > hi_i:
                yield (p, "disjoint", 0)
            elif lo_i <= mn and mx <= hi_i and nulls == 0:
                yield (p, "drop", md.num_rows)
            else:
                yield (p, "rewrite", 0)

    return sc.parallelize(paths, n_slices).mapPartitions(_part).collect()


def delete_where(
    table: ManifestTable,
    spark: SparkSession,
    column: str,
    lo=None,
    hi=None,
    max_retries: int = 20,
) -> dict:
    """Range DELETE with whole-file drops — the retention /
    right-to-be-forgotten sweep (``DELETE WHERE ts < cutoff``) priced
    by what it touches, not by the table: every live file is
    classified from its parquet FOOTER (min/max + null count for
    ``column`` — driver-side metadata, no data scan, works for ANY
    column, not just configured stats columns):

    - fully covered by [lo, hi] and null-free in the column →
      DROPPED by a metadata-only commit (the partition-drop price:
      zero bytes moved — this is the whole point of time-clustered
      layouts for retention);
    - disjoint → untouched;
    - straddling, null-bearing, or footer-statless → copy-on-write
      rewrite keeping rows OUTSIDE the range (NULLs survive — SQL
      DELETE's three-valued WHERE never matches NULL).

    Same optimistic protocol as the key mutations: one listing
    supplies the validated file set and the publish fence; a lost
    put-if-absent discards the stage and reruns. Bounds as ints or
    timestamps (open ends allowed). Returns
    ``{"files_dropped", "files_rewritten", "rows_deleted"}``.

    Classification is STATS-FIRST (round 11): when the commit log
    already records ``column``'s [min, max, null_count] and the
    file's row count (every commit since null-count tracking), the
    file is classified with ZERO per-file IO — a retention sweep
    over a million-file table is then one log listing, not a million
    serial footer round-trips on the driver. Soundness is the same
    immutability argument as read-path skipping: data files never
    change, so recorded stats bound actual contents. Files the log
    cannot classify (legacy commits without null counts, statless
    columns) fall back to footer reads run DISTRIBUTED as a Spark
    job — the driver collects one bounded classification tuple per
    file, never the footers themselves."""
    lo_i = table._stat_int(lo) if lo is not None else -(2**62)
    hi_i = table._stat_int(hi) if hi is not None else 2**62
    if (lo is not None and lo_i is None) or (
        hi is not None and hi_i is None
    ):
        # fail fast with the real constraint instead of a TypeError
        # deep in the classification loop — the retention predicate
        # is numeric/timestamp by design (string zone maps serve the
        # READ path only)
        raise ValueError(
            "delete_where bounds must be int, float, or timestamp; "
            f"got lo={lo!r} hi={hi!r}"
        )
    for _ in range(max_retries):
        numbered = table.numbered_snapshot()
        commits = [c for _, c in numbered]
        fence = table._fence(numbered)
        live = table._files(commits)
        recorded: dict[str, object] = {}
        for c in commits:
            recorded.update(c.get("stats", {}))
        dropped: list[str] = []
        rewrite: list[str] = []
        unknown: list[str] = []
        dropped_rows = 0
        for f in live:
            if not os.path.exists(f):
                # A live commit-log entry whose data file is gone is
                # table corruption (a vacuum raced a reader, or the
                # data dir was hand-pruned). Blindly scheduling it
                # for rewrite would surface as an opaque
                # PATH_NOT_FOUND from the rewrite read — fail fast
                # with the integrity message instead.
                raise FileNotFoundError(
                    f"live file missing from data dir: {f} is "
                    f"referenced by {table.table_dir}'s commit log "
                    "but absent on disk — the table is corrupt "
                    "(restore the file or repair the log before "
                    "mutating)"
                )
            e = recorded.get(os.path.relpath(f, table.data_dir))
            if isinstance(e, list):
                e = {table.STATS_COLUMN: e}
            ent = (e or {}).get(column)
            nrows = (e or {}).get("#rows")
            if ent is not None and not _stats_comparable(
                ent[0], lo_i
            ):
                # string-typed record vs the numeric bounds (round 12
                # string zone maps serve reads only): the log cannot
                # classify — footer fallback settles it as "rewrite"
                unknown.append(f)
                continue
            if ent is not None and len(ent) >= 3:
                mn, mx, nulls = ent[0], ent[1], ent[2]
                if mx < lo_i or mn > hi_i:
                    continue  # disjoint: untouched
                elif (
                    lo_i <= mn
                    and mx <= hi_i
                    and nulls == 0
                    and nrows is not None
                ):
                    dropped.append(f)
                    dropped_rows += nrows
                else:
                    rewrite.append(f)
            elif ent is not None:
                # legacy [min, max] record: disjointness is still
                # provable from the log; a covered/straddling file
                # needs the footer's null count to decide drop vs
                # rewrite
                if ent[1] < lo_i or ent[0] > hi_i:
                    continue
                unknown.append(f)
            else:
                unknown.append(f)
        for path, cls, nrows in _classify_footers_distributed(
            spark, unknown, column, lo_i, hi_i
        ):
            if cls == "drop":
                dropped.append(path)
                dropped_rows += nrows
            elif cls == "rewrite":
                rewrite.append(path)
        if not dropped and not rewrite:
            return {
                "files_dropped": 0,
                "files_rewritten": 0,
                "rows_deleted": 0,
            }
        ev_schema = table._evolved_schema(commits)
        staged: list[str] = []
        n_rewrite_orig = 0
        if rewrite:
            src = table._read_files(spark, rewrite, ev_schema)
            n_rewrite_orig = src.count()
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(column) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(column) <= F.lit(hi))
            survivors = src.filter(~cond | F.col(column).isNull())
            staged = table._stage(survivors)
        n_survivors, added_dates = _count_and_dates(table, spark, staged)
        record = _record(
            table,
            staged,
            removed=sorted(
                os.path.relpath(f, table.data_dir) for f in dropped + rewrite
            ),
            count=n_survivors,
            dates=added_dates,
            # removed_dates over-approximates with every commit date —
            # safe for CDC consumers (they re-read more, never less)
            removed_dates=sorted(
                {d for c in commits for d in c.get("dates", [])}
            ),
            schema=ev_schema,
        )
        if _publish(
            table._commit_path(fence), fence, table._pre_publish_hook, **record
        ):
            return {
                "files_dropped": len(dropped),
                "files_rewritten": len(rewrite),
                "rows_deleted": dropped_rows
                + (n_rewrite_orig - n_survivors),
            }
        table._discard_stage_all(staged)
    raise CommitConflictError(
        f"gave up after {max_retries} delete_where attempts on "
        f"{table.table_dir}"
    )
