"""Manifest-based commit log: the object-store-safe idempotent sink.

:mod:`~.txn`'s ``table_lock`` closes the anti-join/append race with a
kernel ``flock`` mutex — sound on a POSIX host (or NFSv4 share), but
S3-class stores have no lock namespace at all, so a mutex cannot be
built from their filesystem API. This module is the protocol that CAN be
built there, the same one Delta Lake and Iceberg use: an ordered log
of numbered commit files, each listing the data files it adds, decided
by a single **put-if-absent** primitive.

- A data file is INVISIBLE until a commit file references it; readers
  resolve the table as "union of files named by commits 0..N".
- Writers are optimistic: snapshot the log, anti-join against the
  snapshot's keys, stage new files under a unique name, then try to
  put ``_commits/<N+1>.json``. Exactly one writer wins each number;
  losers re-validate against the commits they lost to (retry without
  re-staging when key sets don't overlap — Delta's conflict
  resolution — and re-stage only on a genuine PK conflict).
- Put-if-absent here is ``os.link`` (atomic one-winner on POSIX); on
  S3 it is a conditional PUT (``If-None-Match: *``), on GCS a
  generation-0 precondition, on Azure an ETag condition. Nothing else
  in the protocol touches the namespace, which is the whole point.

**The commit record.** Every commit is one JSON object, built by
:func:`_record` and stamped, hooked and put by
:func:`_publish`, the one writer of table and catalog commits:

- ``version``, ``committed_at``: the commit number and publish time
  (a compaction base keeps its last merged commit's time).
- ``added``, ``removed``: the data files the commit adds and removes,
  relative to the data dir (``removed`` is empty for appends,
  compaction bases and clones).
- ``count``: rows the added files hold; 0 for RESTORE, DROP COLUMN
  and a clone; a compaction base sums its commits'.
- ``dates``: distinct dates of the added rows' ``reading_timestamp``
  (empty means unknown), so the existing-keys scan prunes to commits
  whose dates overlap the batch — the manifest's partition pruning
  (Delta's per-file ``partitionValues``). OPTIMIZE, RESTORE, clones
  and compaction bases over-approximate with their source commits'
  dates.
- ``schema``: the table's read schema as JSON after the commit, or null.
- ``stats``, ``blooms``: per added file, footer zone maps and
  membership indexes (:meth:`ManifestTable._file_stats`,
  :meth:`ManifestTable._file_blooms`) — read from the footers of newly
  staged files, carried from earlier commits for files already in the
  log (compaction, clone).
- Writers' own keys: ``removed_dates`` (copy-on-write mutations,
  ``delete_where``, RESTORE) and ``batch_dates`` (mutations, RESTORE)
  for change feeds; ``optimize``; ``restore_of``; ``drop_columns`` and
  ``dropped_types`` (DROP COLUMN; compaction bases carry
  ``dropped_types``); ``compacted_from`` and ``added_numbers`` (a
  compaction base's merged-commit count and each file's own commit
  number); ``cloned_from``.

A catalog commit (:mod:`.catalog`) holds ``version``, ``committed_at``
and ``tables``, one such record per touched table without its own
``version``/``committed_at``, plus ``optimize`` or ``compacted_from``.
A compaction base's table records add ``added_numbers``, and
``count_is_upper_bound`` when their files lack row counts.

The reference's guarantee being reproduced is the same PRIMARY KEY
``ON CONFLICT DO NOTHING`` (consumer/meter_consumer.py:104-114); this
is its shape for deployments where the sink is an object store.

Beyond insert-only, the table supports COPY-ON-WRITE mutations
(:meth:`ManifestTable.delete_keys`, :meth:`ManifestTable.upsert` — the
Delta MERGE/DELETE shape): affected files are rewritten minus/with the
matched rows, and one commit atomically lists the rewrites as
``added`` and the originals as ``removed``. Data files are never
modified IN PLACE, so historical versions stay readable; removed
files become vacuumable once compaction nets them out of the log.
Copy-on-write is the only way rows leave the table, so the live files
ARE the table: every read, and the append's existing-keys scan, is a
plain parquet read of them under the commit schema.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

COMMITS_DIRNAME = "_commits"
DATA_DIRNAME = "_data"

PK = ["reading_timestamp", "meter_id"]


class CommitConflictError(RuntimeError):
    """Raised when a writer exhausts its retries losing commit races."""


class _SnapshotAdvancedError(RuntimeError):
    """Internal: a fence-pinned mutation found the table advanced past
    the snapshot its batch was derived from — the caller must
    re-derive (re-enrich / re-filter) against the new image and try
    again. Never escapes the public API: :meth:`upsert_partial` and
    :meth:`upsert_if_newer` catch it inside their own retry loops."""


def _put_if_absent(path: str, payload: bytes) -> bool:
    """Atomically create ``path`` with ``payload`` iff it doesn't
    exist. One winner among concurrent callers; losers get False.
    POSIX: hard-link a unique temp file onto the target (link(2) fails
    with EEXIST if the name is taken). Object stores: conditional PUT.
    """
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    try:
        with open(tmp, "wb") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    except FileNotFoundError:
        # The parent dir itself vanished mid-call (a namespace race —
        # e.g. a legacy swap-style compaction). Treat as a lost race —
        # the caller revalidates against the current log and retries —
        # instead of leaking the exception (and the staged parquet)
        # out of idempotent_append.
        return False
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def _publish(
    path: str,
    version: int,
    hook=None,
    committed_at: float | None = None,
    **fields,
) -> bool:
    """The one commit writer: stamp ``fields`` (a record from
    :func:`_record`, or a catalog commit's ``tables``)
    with ``version`` and ``committed_at`` (now unless given), fire the
    writer's pending pre-publish ``hook``, and put the commit at
    ``path`` if absent. False means another writer holds ``path``."""
    if hook is not None:
        hook()
    commit = {
        "version": version,
        **fields,
        "committed_at": time.time() if committed_at is None else committed_at,
    }
    return _put_if_absent(path, json.dumps(commit).encode())


def _record(
    table: "ManifestTable | None",
    staged: list[str] = (),
    *,
    stats: dict | None = None,
    carried: list[str] = (),
    carry_from: list[dict] = (),
    carry_dir: str | None = None,
    removed: list[str] = (),
    count: int = 0,
    dates=(),
    schema=None,
    **extra,
) -> dict:
    """One table commit record (the module docstring's format), adding
    ``carried`` then ``staged`` files. Newly ``staged`` files, in
    ``table``'s data dir, get ``stats`` (read from their footers unless
    the caller already did) and ``blooms`` from their footers;
    ``carried`` files, already in the log, keep the entries
    ``carry_from`` recorded for them, the latest winning. ``carry_dir``
    is the data dir those commits name files against (default: the
    names are ``table``'s own). ``table`` may be None when nothing is
    staged. ``schema`` is a StructType or its JSON; ``extra`` holds the
    writer's own keys."""
    old_stats: dict = {}
    old_blooms: dict = {}
    for c in carry_from:
        old_stats.update(c.get("stats") or {})
        old_blooms.update(c.get("blooms") or {})
    keys = {
        f: f
        if carry_dir is None
        else os.path.relpath(os.path.join(table.data_dir, f), carry_dir)
        for f in carried
    }
    rec_stats = {f: old_stats[k] for f, k in keys.items() if k in old_stats}
    rec_blooms = {f: old_blooms[k] for f, k in keys.items() if k in old_blooms}
    if staged:
        rec_stats.update(table._file_stats(staged) if stats is None else stats)
        rec_blooms.update(table._file_blooms(staged))
    if schema is not None and not isinstance(schema, str):
        schema = schema.json()
    return {
        "added": [*carried, *staged],
        "removed": list(removed),
        "count": count,
        "dates": sorted(dates),
        "schema": schema,
        "stats": rec_stats,
        "blooms": rec_blooms,
        **extra,
    }


class ManifestTable:
    """A parquet table whose visible contents are decided by the
    commit log, with a PK-idempotent optimistic append."""

    def __init__(
        self,
        table_dir: str,
        stats_columns: list[str] | None = None,
        constraints: list[dict] | None = None,
        bloom_columns: list[str] | None = None,
        dict_columns: list[str] | None = None,
    ) -> None:
        self.table_dir = table_dir
        # Columns whose per-file [min, max] footers are recorded in
        # every commit for metadata-only file skipping. Iceberg keeps
        # stats for every column; recording a chosen few keeps commit
        # payloads O(files × chosen), which is the right trade at a
        # 100 TB file count. Default: the reference PK's meter_id.
        self.stats_columns = (
            list(stats_columns) if stats_columns else [self.STATS_COLUMN]
        )
        # Write-time CHECK constraints (Delta invariants): a list of
        # ROW-PREDICATE expectation dicts (operators/expectations.py
        # shapes: not_null / non_negative / accepted_values /
        # in_range). Every append/upsert batch is screened in ONE
        # conditional-sum aggregate BEFORE anything stages; a
        # violating batch raises and nothing commits. Row-local by
        # design — uniqueness is the PK protocol's job and FKs are
        # query-time checks (run_expectations), exactly Delta's split.
        self.constraints = list(constraints) if constraints else []
        # Optional per-file BLOOM FILTER index (Delta's bloom filter
        # index / Iceberg puffin blobs): for each named INTEGER
        # column, every commit records a {BLOOM_BITS}-bit bitmap of
        # the file's values. Min/max stats cannot skip POINT lookups
        # on an unclustered table (every file's range overlaps every
        # key); the bloom can — a restatement of a handful of keys
        # prunes its candidate scan to ~the files that truly contain
        # them, from metadata alone. Off by default (costs one column
        # read per staged file at write time).
        self.bloom_columns = list(bloom_columns) if bloom_columns else []
        # Optional per-file DICTIONARY index for low-cardinality
        # STRING columns (the string complement of the Bloom index —
        # zone maps and blooms are numeric-only here): every commit
        # records the file's sorted distinct-value list when it has
        # ≤ DICT_MAX_VALUES distinct values, and a read's
        # ``where_in={col: [...]}`` skips files whose recorded
        # dictionary is disjoint from the lookup set. Rides the SAME
        # commit channel as the blooms (one membership-index map per
        # file, value type selects the encoding: hex bitmap = bloom,
        # list = dictionary), so _record carries it like a bloom.
        self.dict_columns = list(dict_columns) if dict_columns else []
        self.commits_dir = os.path.join(table_dir, COMMITS_DIRNAME)
        self.data_dir = os.path.join(table_dir, DATA_DIRNAME)
        self._recover_interrupted_compaction()
        os.makedirs(self.commits_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        # Table config DURABILITY (round 9): stats/bloom columns and
        # constraints are table properties, not per-process options —
        # a maintenance job reopening the table bare must not silently
        # OPTIMIZE with the default stats column and lose the
        # configured skipping index. Explicitly-passed config is
        # persisted (ALTER-TABLE-SET semantics, atomic rename); a bare
        # open loads the persisted config.
        cfg_path = os.path.join(table_dir, "_table.json")
        explicit = {
            k: v
            for k, v in (
                ("stats_columns", stats_columns),
                ("bloom_columns", bloom_columns),
                ("dict_columns", dict_columns),
                ("constraints", constraints),
            )
            if v
        }
        persisted: dict = {}
        if os.path.exists(cfg_path):
            try:
                with open(cfg_path) as fh:
                    persisted = json.load(fh)
            except (OSError, ValueError):
                persisted = {}
        if not stats_columns and persisted.get("stats_columns"):
            self.stats_columns = list(persisted["stats_columns"])
        if not bloom_columns and persisted.get("bloom_columns"):
            self.bloom_columns = list(persisted["bloom_columns"])
        if not dict_columns and persisted.get("dict_columns"):
            self.dict_columns = list(persisted["dict_columns"])
        if not constraints and persisted.get("constraints"):
            self.constraints = list(persisted["constraints"])
        want = {
            "stats_columns": self.stats_columns,
            "bloom_columns": self.bloom_columns,
            "dict_columns": self.dict_columns,
            "constraints": self.constraints,
        }
        if explicit and {
            k: persisted.get(k) for k in want
        } != want:
            tmp = cfg_path + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as fh:
                # merge, don't replace: keys this version does not
                # write (left by an older one) survive a reopen that
                # pins skipping config explicitly
                json.dump({**persisted, **want}, fh)
            os.replace(tmp, cfg_path)
        # Test seam: _publish invokes it before every commit this
        # handle publishes (between validation/staging and the put),
        # so tests can land a competing commit, or kill the writer,
        # in the exact window the optimistic protocol must survive.
        # Never set in production.
        self._pre_publish_hook = None

    def _recover_interrupted_compaction(self) -> None:
        """Crash recovery for the non-renameat2 compaction fallback: a
        crash between ``rename(commits, old)`` and
        ``rename(new, commits)`` leaves NO commits dir and a stranded
        ``.old`` dir. Without recovery, ``makedirs`` would recreate an
        EMPTY log — the table silently reads as empty and a later
        vacuum deletes every data file as unreferenced. Restore the
        displaced log before anything else touches the table; the
        in-flight compaction is simply lost, which is the safe
        outcome."""
        old = self.commits_dir + ".old"
        commits_missing_or_empty = not os.path.isdir(self.commits_dir) or not any(
            n.endswith(".json") for n in os.listdir(self.commits_dir)
        )
        if commits_missing_or_empty and os.path.isdir(old):
            if not os.path.isdir(self.commits_dir):
                os.rename(old, self.commits_dir)
            else:
                # commits dir exists but holds no commits (stray tmp
                # files at most): move the displaced log's entries in
                # file-by-file, then drop the stranded dir.
                for n in os.listdir(old):
                    if n.endswith(".json"):
                        os.rename(
                            os.path.join(old, n),
                            os.path.join(self.commits_dir, n),
                        )
                shutil.rmtree(old, ignore_errors=True)

    # -- log ---------------------------------------------------------------

    def _commit_path(self, version: int) -> str:
        return os.path.join(self.commits_dir, f"{version:010d}.json")

    def snapshot(self) -> list[dict]:
        """All commits in log order. Listing then reading is safe
        because commit files are immutable once created."""
        return [c for _, c in self.numbered_snapshot()]

    def numbered_snapshot(self) -> list[tuple[int, dict]]:
        """(commit number, payload) in log order. Numbers are stable
        identifiers: once a commit lands, its number never changes —
        compaction keeps the tail's numbers and reuses only number 0
        for the merged base. They are NOT dense after a compaction
        (gaps where merged commits used to be); positional APIs
        (read(version=), diff, history) index the current log order,
        numbers anchor the optimistic-append fence."""
        return self._read_log(self.commits_dir)

    @staticmethod
    def _read_log(log_dir: str) -> list[tuple[int, dict]]:
        """Read one numbered commit-log directory (a table's log or
        the catalog chain — same file format, same immutability
        rules). Raise ``ValueError`` when it holds a merge-on-read
        tombstone an older version of this module wrote and never
        applied (a ``tombstones`` record whose ``upto`` is above the
        highest ``mor_applied_upto``): the rows it deleted are still in
        the live files, and a plain read would return them."""
        for attempt in range(40):
            try:
                names = sorted(
                    n
                    for n in os.listdir(log_dir)
                    if n.endswith(".json")
                )
                out = []
                for n in names:
                    with open(os.path.join(log_dir, n)) as fh:
                        out.append((int(n[: -len(".json")]), json.load(fh)))
                break
            except FileNotFoundError:
                # Momentarily missing dir (the non-renameat2 compaction
                # fallback is between its two renames), or a listed
                # commit file was compacted away between the listing
                # and the open. The window is microseconds; re-list
                # rather than misreading the table as empty (which
                # would reset the append fence).
                if attempt == 39:
                    raise
                time.sleep(0.05)
        applied = max(
            (c.get("mor_applied_upto", -1) for _, c in out), default=-1
        )
        if any(
            t["upto"] > applied for _, c in out for t in c.get("tombstones", ())
        ):
            raise ValueError(
                f"commit log {log_dir} holds merge-on-read tombstones that "
                "were never applied; this version reads data files as they "
                "are and would return the rows they deleted. Apply them with "
                "the version that wrote them (its apply_tombstones) first."
            )
        return out

    def next_commit_number(self) -> int:
        """max existing number + 1 — MONOTONE across compactions
        (len() is not, once compaction leaves gaps), which is what
        keeps the append's publish-then-validate race sound: any
        commit that lands after a writer's validation fence must take
        a number >= that fence, so put_if_absent failing is the ONLY
        way to miss concurrent content."""
        nums = [
            int(n[: -len(".json")])
            for n in os.listdir(self.commits_dir)
            if n.endswith(".json")
        ]
        return (max(nums) + 1) if nums else 0

    def _files(self, commits: list[dict], dates: set[str] | None = None) -> list[str]:
        """Absolute LIVE data-file paths after replaying ``commits`` in
        log order: each commit's ``removed`` list (copy-on-write
        delete/upsert) drops files earlier commits added, then its
        ``added`` files join the set. When ``dates`` is given, commits
        whose recorded dates don't overlap contribute no ADDS — but
        their REMOVALS always apply (skipping a removal would read a
        deleted file back into existence; date pruning is an add-side
        optimization only). A commit with an EMPTY or missing dates
        list overlaps every probe: empty means "dates unknown" (a
        table written before the column existed, or rows with NULL
        dates), and the safe direction for unknown is contribute-adds
        — skipping would let a dated dedup anti-join miss those
        files' keys and re-admit duplicates. Path-deduped: during an
        in-place log
        compaction (or after a crash mid-compaction) the merged base
        and a not-yet-unlinked merged commit can both name the same
        file — it must be read once, not twice."""
        files: dict[str, None] = {}
        for c in commits:
            for f in c.get("removed", []):
                files.pop(os.path.join(self.data_dir, f), None)
            c_dates = set(c.get("dates") or ())
            if dates is not None and c_dates and not (c_dates & dates):
                continue
            for f in c["added"]:
                files[os.path.join(self.data_dir, f)] = None
        return list(files)

    def _net_relfiles(self, commits: list[dict]) -> list[str]:
        """Data-dir-relative live files after replaying ``commits`` —
        the compaction-base form of :meth:`_files`."""
        return [
            os.path.relpath(p, self.data_dir)
            for p in self._files(commits)
        ]

    # -- read --------------------------------------------------------------

    def version_asof(self, ts: float) -> int:
        """TIMESTAMP AS OF resolution (Delta semantics): the latest
        positional version whose commit landed at or before ``ts``.
        Commits written before timestamp tracking fall back to the
        commit file's mtime. Raises when ``ts`` predates the first
        commit (nothing existed to read), matching Delta's
        `timestampAsOf` error contract."""
        best = None
        for i, (num, c) in enumerate(self.numbered_snapshot()):
            at = c.get("committed_at")
            if at is None:
                try:
                    at = os.path.getmtime(self._commit_path(num))
                except OSError:
                    continue
            if at <= ts:
                best = i
        if best is None:
            raise ValueError(
                f"timestamp {ts} predates the first commit of "
                f"{self.table_dir}"
            )
        return best

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        dates: list | None = None,
        asof: float | None = None,
        where: dict | None = None,
        where_in: dict | None = None,
    ) -> DataFrame | None:
        """The committed table contents (None when no commits yet).

        ``where_in`` — Bloom point-lookup skipping on the READ path:
        ``{col: [v, ...]}`` membership sets. Files whose per-file
        Bloom index excludes EVERY value of some set are never opened
        (and the set's [min, max] additionally feeds the zone-map
        prune), with ``col IN (...)`` applied row-level on top. This
        is the needle-in-haystack complement to ``where``: zone maps
        skip CLUSTERED layouts, blooms skip point lookups on
        UNCLUSTERED ones (hash-sharded files whose min/max ranges all
        overlap but whose memberships are disjoint). Same soundness
        argument as ``where`` — immutable files, recorded indexes
        bound actual contents, row filter provides the semantics.

        ``where`` — zone-map data skipping on the READ path:
        ``{col: (lo, hi)}`` inclusive ranges (ints or timestamps;
        either bound None for open-ended). Files whose recorded
        per-file [min, max] for ANY named column is disjoint from its
        range are never opened, and the row-level filter is applied on
        top, so the result ALWAYS equals ``read().filter(...)`` —
        stats skipping is an IO optimization, never the correctness
        filter. Unlike mutation pruning (pk-only, round-9 rule), read
        pruning may use ANY stats column: data files are immutable and
        their recorded stats bound their actual contents, so a
        read-side skip can never hide a row the predicate matches —
        the mutation hazard (a restatement CHANGING a non-key value
        out from under the batch's range) does not exist when nothing
        is rewritten. This is the scan-pruning half of the clustering
        story: OPTIMIZE (ZORDER) narrows per-file ranges exactly so
        that these reads open O(matching) files instead of all of
        them.

        ``dates`` prunes at the FILE level from commit metadata — the
        manifest's partition pruning: only files added by commits
        whose recorded dates overlap are read (removals still apply
        globally), so a one-day incremental read of a 10-year table
        costs one directory listing plus that day's files. File-level
        means over-approximate: a file mixing dates contributes all
        its rows — callers filter rows; the pruning bounds IO, not
        row membership.

        ``version`` time-travels: the table AS OF commit ``version``
        (inclusive — ``version=0`` is the first commit's view). Commit
        files are immutable and data files are never rewritten, so any
        historical snapshot remains readable until a vacuum deletes
        unreferenced-and-expired files — the same versioned-manifest
        contract Delta/Iceberg time travel rests on.

        Schema evolution: the read schema is the union of the visible
        commits' recorded schemas in log order (additive evolution —
        files written before a column existed read it as NULL).
        Taking the schema from COMMIT METADATA, not from merging
        parquet footers, is what makes the evolved read free at scale:
        ``mergeSchema`` touches every file's footer, the log is one
        directory listing.

        ``asof`` (unix seconds) is TIMESTAMP AS OF: resolved to the
        latest version committed at or before that instant via
        :meth:`version_asof`, then read as a version time-travel.
        version and asof are mutually exclusive."""
        if version is not None and asof is not None:
            raise ValueError("pass at most one of version / asof")
        if asof is not None:
            version = self.version_asof(asof)
        numbered = self.numbered_snapshot()
        if version is not None:
            if version < 0 or version >= len(numbered):
                raise ValueError(
                    f"version {version} out of range: table has "
                    f"{len(numbered)} commits"
                )
            numbered = numbered[: version + 1]
        commits = [c for _, c in numbered]
        files = self._files(
            commits,
            {str(d) for d in dates} if dates is not None else None,
        )
        schema = self._evolved_schema(commits)
        if not files:
            # No commits at all → None (table never written). Commits
            # with a recorded schema but zero live files (everything
            # deleted) → an EMPTY frame: the table exists and has a
            # shape, exactly like SELECT * FROM t after DELETE.
            if commits and schema is not None:
                return spark.createDataFrame([], schema)
            return None
        row_filters = []
        if where or where_in:
            key_ranges = {}
            for col, (lo, hi) in (where or {}).items():
                # open-ended bounds become int sentinels (wider than
                # any epoch-micros or bigint stat) so the column still
                # prunes on its bounded side
                key_ranges[col] = (
                    lo if lo is not None else -(2**62),
                    hi if hi is not None else 2**62,
                )
                if lo is not None:
                    row_filters.append(F.col(col) >= F.lit(lo))
                if hi is not None:
                    row_filters.append(F.col(col) <= F.lit(hi))
            for col, vals in (where_in or {}).items():
                vals = [v for v in vals if v is not None]
                row_filters.append(F.col(col).isin(vals))
                if vals and col not in key_ranges:
                    key_ranges[col] = (min(vals), max(vals))
            files = self._prune_by_stats(files, commits, key_ranges)
            if where_in:
                files = self._prune_by_bloom(
                    files,
                    commits,
                    {
                        c: [v for v in vs if v is not None]
                        for c, vs in where_in.items()
                    },
                )
                # Posting-index consultation (round 12): a CURRENT
                # read whose where_in column carries a secondary
                # index intersects with the index's exact candidate
                # set — point reads through the STANDARD read path
                # get posting-exact pruning, no dedicated API needed.
                # Current-only: time-travel snapshots must not
                # consult it (vacuum_index keeps postings only for
                # currently-live files). Lazy import keeps the
                # module dependency one-way (index -> manifest).
                if version is None:
                    files = self._prune_by_posting_index(
                        spark, files, where_in, numbered
                    )
            if not files:
                if schema is not None:
                    return spark.createDataFrame([], schema)
                # legacy table without recorded schemas: derive it
                # from one original file; the row filter empties it
                files = self._files(commits)[:1]
        df = self._read_files(spark, files, schema)
        for f in row_filters:
            df = df.filter(f)
        return df

    @staticmethod
    def _evolved_schema(commits: list[dict]):
        """Union of the commits' recorded schemas in log order (later
        commits append new columns; a name seen twice keeps its first
        type — additive evolution only, type changes are rejected at
        append time), minus any columns a ``drop_columns`` marker
        commit removed (ALTER TABLE DROP COLUMN — metadata-only:
        bytes stay in the files, readers stop selecting them;
        time travel to a pre-drop version still sees the column, and
        a later append may re-introduce the name, possibly with a new
        type). None when no commit recorded a schema (tables written
        before schema tracking — reader falls back to Spark's own
        parquet inference)."""
        from pyspark.sql.types import StructType

        fields: dict[str, object] = {}
        for c in commits:
            for name in c.get("drop_columns", []):
                fields.pop(name, None)
            if not c.get("schema"):
                continue
            st = StructType.fromJson(json.loads(c["schema"]))
            for f in st.fields:
                fields.setdefault(f.name, f)
        if not fields:
            return None
        return StructType(list(fields.values()))

    def _file_origins(
        self, numbered: list[tuple[int, dict]]
    ) -> dict[str, int]:
        """{absolute live file path: the NUMBER of the commit that
        added it}. The secondary index (sources/index.py) uses it for
        freshness: a live file whose origin is past the index's last
        refresh has no postings yet, so index reads open it
        unconditionally. A file merged by log compaction keeps its own
        number through the merged base's ``added_numbers`` map."""
        origins: dict[str, int] = {}
        for num, c in numbered:
            for f in c.get("removed", []):
                origins.pop(os.path.join(self.data_dir, f), None)
            recorded = c.get("added_numbers", {})
            for f in c["added"]:
                origins[os.path.join(self.data_dir, f)] = recorded.get(f, num)
        return origins

    @staticmethod
    def _read_files(
        spark: SparkSession, files: list[str], schema
    ) -> DataFrame:
        """``files`` as one parquet read under ``schema``, the commit
        log's evolved schema (None, on a log that recorded no schema,
        lets Spark infer it from the files)."""
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*files)

    def _prune_by_posting_index(
        self,
        spark: SparkSession,
        files: list[str],
        where_in: dict,
        numbered: list[tuple[int, dict]],
    ) -> list[str]:
        """Intersect the candidate files with every consulted
        secondary index's exact candidate set (sources/index.py).
        Only columns that HAVE a refreshed index directory consult
        it; the index set is ``(postings ∩ live) ∪ unindexed``, an
        over-approximation of the files containing the values, so
        intersecting stays sound on the current snapshot. The consult
        stays bounded via the df-cap inside ``index_candidate_files``."""
        for col, vs in where_in.items():
            idx_dir = os.path.join(self.table_dir, "_indexes", col)
            if not os.path.isdir(idx_dir):
                continue
            from smart_meter_data_pipeline_spark.sources.index import (
                index_candidate_files,
            )

            cand, _ = index_candidate_files(
                self,
                spark,
                col,
                [v for v in vs if v is not None],
                numbered,
                want_report=False,
            )
            cand_set = set(cand)
            files = [f for f in files if f in cand_set]
            if not files:
                break
        return files

    def skipping_report(
        self,
        where: dict | None = None,
        where_in: dict | None = None,
        spark: SparkSession | None = None,
    ) -> dict:
        """Metadata-only dry run of ``read(where=..., where_in=...)``'s
        file skipping: how many live files the zone maps + blooms keep
        vs skip. The observability half of read-path data skipping —
        tests and the bench assert on it without reading a byte of
        data. Pass ``spark`` to ALSO consult secondary posting
        indexes the way ``read`` does (that part reads the posting
        table, so it is no longer metadata-only — hence opt-in)."""
        numbered = self.numbered_snapshot()
        commits = [c for _, c in numbered]
        files = self._files(commits)
        key_ranges = {
            col: (
                lo if lo is not None else -(2**62),
                hi if hi is not None else 2**62,
            )
            for col, (lo, hi) in (where or {}).items()
        }
        for col, vals in (where_in or {}).items():
            vals = [v for v in vals if v is not None]
            if vals and col not in key_ranges:
                key_ranges[col] = (min(vals), max(vals))
        kept = self._prune_by_stats(files, commits, key_ranges)
        if where_in:
            kept = self._prune_by_bloom(
                kept,
                commits,
                {
                    c: [v for v in vs if v is not None]
                    for c, vs in where_in.items()
                },
            )
            if spark is not None:
                kept = self._prune_by_posting_index(
                    spark, kept, where_in, numbered
                )
        return {
            "files_live": len(files),
            "files_read": len(kept),
            "files_skipped": len(files) - len(kept),
        }

    def history(self) -> list[dict]:
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
            for i, c in enumerate(self.snapshot())
        ]

    def diff(
        self, spark: SparkSession, v_from: int, v_to: int
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
        delete events should diff metadata via :meth:`history`."""
        commits = self.snapshot()
        if not (-1 <= v_from <= v_to < len(commits)):
            raise ValueError(
                f"bad version range ({v_from}, {v_to}] for "
                f"{len(commits)} commits"
            )
        files = self._files(commits[v_from + 1 : v_to + 1])
        if not files:
            return None
        # Same evolved-schema discipline as read(): the range can span
        # a schema-evolution boundary, and a plain read would infer
        # whichever file Spark samples — non-deterministically dropping
        # later-added columns from the change feed.
        schema = self._evolved_schema(commits[: v_to + 1])
        return self._read_files(spark, files, schema)

    def change_feed(
        self,
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
        snapshots share every file. Complements :meth:`diff` (the
        cheaper post-image/file-level feed) — use this one when the
        consumer needs deletes and pre-images."""
        commits = self.snapshot()
        if not (-1 <= v_from <= v_to < len(commits)):
            raise ValueError(
                f"bad version range ({v_from}, {v_to}] for "
                f"{len(commits)} commits"
            )
        live_from = (
            set(self._files(commits[: v_from + 1])) if v_from >= 0 else set()
        )
        live_to = set(self._files(commits[: v_to + 1]))
        pre_files = sorted(live_from - live_to)
        post_files = sorted(live_to - live_from)
        if not pre_files and not post_files:
            return None

        def _read(files, upto):
            if not files:
                return None
            schema = self._evolved_schema(commits[: upto + 1])
            return self._read_files(spark, files, schema)

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

    # -- write -------------------------------------------------------------

    def _stage(self, df: DataFrame) -> list[str]:
        """Write ``df`` under a unique staging prefix; return the
        data-dir-relative parquet file names. Invisible until
        committed."""
        stage_id = uuid.uuid4().hex
        stage_path = os.path.join(self.data_dir, stage_id)
        df.write.parquet(stage_path)
        return [
            os.path.join(stage_id, name)
            for name in os.listdir(stage_path)
            if name.endswith(".parquet")
        ]

    STATS_COLUMN = "meter_id"

    def _file_stats(self, rel_files: list[str]) -> dict:
        """Per-file ``{column: [min, max, null_count], "#rows": n}``
        over ``stats_columns``, read from the parquet FOOTERS of
        just-staged files — no data scan, ~1ms per file on the
        driver. This is the Delta/Iceberg data-skipping move: the
        commit carries each file's key ranges, so later mutations
        prune their candidate scan from metadata alone, and (round
        11) ``delete_where`` classifies whole-file retention drops
        from the log without reopening any footer: the null count is
        what proves a range-covered file is fully deletable (SQL
        DELETE's three-valued WHERE never matches NULL) and
        ``"#rows"`` prices the drop. Null counts are recorded only
        when EVERY row group reports one (a 2-element ``[min, max]``
        entry means nulls-unknown); a column with min/max missing in
        ANY row group is not recorded at all — an under-covering
        range would make skipping unsound. (Commits written before
        multi-column stats hold the legacy ``{file: [min, max]}``
        shape for the default column — _prune_by_stats reads both.)"""
        import pyarrow.parquet as pq

        wanted = set(self.stats_columns)
        out = {}
        for rel in rel_files:
            md = pq.read_metadata(os.path.join(self.data_dir, rel))
            # name -> [mn, mx, nulls|None]; None key value = dropped
            acc: dict[str, object] = {}
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                for j in range(rg.num_columns):
                    col = rg.column(j)
                    name = col.path_in_schema
                    if name not in wanted or acc.get(name, 0) is None:
                        continue
                    s = col.statistics
                    if s is None or not s.has_min_max:
                        acc[name] = None
                        continue
                    nu = s.null_count
                    if name in acc:
                        cur = acc[name]
                        cur[0] = min(cur[0], s.min)
                        cur[1] = max(cur[1], s.max)
                        cur[2] = (
                            None
                            if cur[2] is None or nu is None
                            else cur[2] + nu
                        )
                    else:
                        acc[name] = [s.min, s.max, nu]
            # Stats are an OPTIMIZATION: unsupported column types
            # simply skip file-skipping — an unguarded int() here
            # would turn every append on such a table into a hard
            # ValueError. Integers record as-is; timestamps as UTC
            # epoch MICROSECONDS (round 9 — per-file time-range
            # pruning, the most common mutation slice), normalized by
            # the same helper the prune side uses.
            per_col = {}
            for name, e in acc.items():
                if e is None:
                    continue
                mn, mx, nulls = e
                lo, hi = self._stat_int(mn), self._stat_int(mx)
                if (
                    lo is None
                    and hi is None
                    and isinstance(mn, str)
                    and isinstance(mx, str)
                ):
                    # STRING min/max (round 12): recorded verbatim —
                    # parquet writers that truncate statistics keep
                    # min a prefix (a sound lower bound) and bump the
                    # truncated max above the true max (a sound upper
                    # bound), so skipping stays an over-approximation
                    # either way. JSON stores them natively.
                    lo, hi = mn, mx
                if lo is not None and hi is not None:
                    per_col[name] = (
                        [lo, hi, int(nulls)]
                        if nulls is not None
                        else [lo, hi]
                    )
            # "#rows" is recorded UNCONDITIONALLY (round 14): row
            # counts come from the footer even when no column has
            # usable min/max, and squash/compact recompute live-row
            # counts from survivors' "#rows" — a statless file would
            # silently degrade that exact count to an upper bound.
            per_col["#rows"] = md.num_rows
            out[rel] = per_col
        return out

    # Bloom index shape: m bits / k hashes sized for ~4K distinct
    # values per file at ~1% false positives (FP only costs a wasted
    # candidate read — never correctness). The hash is the same
    # MINSTD integer mix the portable PRNG uses: cheap, stable across
    # processes (no PYTHONHASHSEED), and int-exact.
    BLOOM_BITS = 32768
    BLOOM_HASHES = 3
    _BLOOM_M31 = 2147483647

    @classmethod
    def _bloom_positions(cls, value: int) -> list[int]:
        return [
            (
                (value * 2654435761 + seed * 40503) % cls._BLOOM_M31
            ) % cls.BLOOM_BITS
            for seed in range(1, cls.BLOOM_HASHES + 1)
        ]

    # A string column qualifies for the dictionary index only while a
    # file holds at most this many distinct values — above it the
    # list would bloat every commit for a column that is not actually
    # categorical, so the file records nothing and is never skipped.
    DICT_MAX_VALUES = 32

    def _file_blooms(self, rel_files: list[str]) -> dict:
        """Per-file membership indexes over ``bloom_columns`` +
        ``dict_columns``, read from the just-staged files' column
        data (pyarrow, no Spark job): integer columns record a hex
        Bloom bitmap, low-cardinality string columns record their
        sorted distinct-value list (≤ DICT_MAX_VALUES, else nothing).
        Unlike the min/max stats this touches the columns' values, so
        both indexes are opt-in; a column whose values don't match
        its index's type is skipped the same way non-integral stats
        are."""
        if not self.bloom_columns and not self.dict_columns:
            return {}
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        for rel in rel_files:
            path = os.path.join(self.data_dir, rel)
            try:
                tbl = pq.read_table(path, columns=[
                    c
                    for c in (*self.bloom_columns, *self.dict_columns)
                ])
            except Exception:
                continue
            per_col: dict[str, object] = {}
            for c in self.bloom_columns:
                if c not in tbl.column_names:
                    continue
                bits = 0
                ok = True
                for v in tbl.column(c).to_pylist():
                    if v is None:
                        continue
                    if not isinstance(v, int):
                        ok = False
                        break
                    for pos in self._bloom_positions(v):
                        bits |= 1 << pos
                if ok and bits:
                    per_col[c] = f"{bits:x}"
            for c in self.dict_columns:
                if c not in tbl.column_names:
                    continue
                seen: set = set()
                ok = True
                for v in tbl.column(c).to_pylist():
                    if v is None:
                        continue
                    if not isinstance(v, str):
                        ok = False
                        break
                    seen.add(v)
                    if len(seen) > self.DICT_MAX_VALUES:
                        ok = False
                        break
                if ok and seen:
                    per_col[c] = sorted(seen)
            if per_col:
                out[rel] = per_col
        return out

    def _prune_by_bloom(
        self,
        files: list[str],
        commits: list[dict],
        key_values: dict[str, list],
    ) -> list[str]:
        """Drop candidate files whose recorded bloom proves they
        contain NONE of the mutation's key values on some membership
        index: integer sets test the Bloom bitmap, string sets test
        the recorded dictionary list. Complements
        :meth:`_prune_by_stats`: ranges skip clustered tables,
        membership indexes skip POINT lookups on unclustered ones.
        Files without a record are always kept — skipping is an
        optimization, never a correctness filter."""
        int_sets = {
            c: vs
            for c, vs in key_values.items()
            if vs and all(isinstance(v, int) for v in vs)
        }
        str_sets = {
            c: set(vs)
            for c, vs in key_values.items()
            if vs and all(isinstance(v, str) for v in vs)
        }
        if not int_sets and not str_sets:
            return files
        key_pos = {
            c: [self._bloom_positions(v) for v in vs]
            for c, vs in int_sets.items()
        }
        recorded: dict[str, dict] = {}
        for c in commits:
            recorded.update(c.get("blooms", {}))
        kept = []
        for f in files:
            rel = os.path.relpath(f, self.data_dir)
            e = recorded.get(rel)
            if not e:
                kept.append(f)
                continue
            disjoint = False
            for col, poss in key_pos.items():
                # value type selects the encoding — an int lookup
                # only ever tests a hex-bitmap record
                if not isinstance(e.get(col), str):
                    continue
                bits = int(e[col], 16)
                if not any(
                    all(bits >> p & 1 for p in pp) for pp in poss
                ):
                    disjoint = True
                    break
            if not disjoint:
                for col, wanted in str_sets.items():
                    if not isinstance(e.get(col), list):
                        continue
                    if not wanted.intersection(e[col]):
                        disjoint = True
                        break
            if not disjoint:
                kept.append(f)
        return kept

    # Collecting more key values than this to the driver would cost
    # more than the candidate reads the bloom could save — above it
    # the range stats carry the pruning alone.
    BLOOM_PRUNE_MAX_KEYS = 4096

    def _prune_candidates_by_bloom(
        self, files: list[str], commits: list[dict], keys: DataFrame
    ) -> list[str]:
        """Point-lookup file skipping for a mutation's key frame:
        collect each bloom column's distinct values (bounded — a
        too-large key set skips bloom pruning entirely) and drop
        candidates whose bloom excludes all of them."""
        cols = [c for c in self.bloom_columns if c in keys.columns]
        if not files or not cols:
            return files
        key_values: dict[str, list] = {}
        for c in cols:
            vs = (
                keys.select(c)
                .distinct()
                .limit(self.BLOOM_PRUNE_MAX_KEYS + 1)
                .collect()
            )
            if len(vs) > self.BLOOM_PRUNE_MAX_KEYS:
                continue
            key_values[c] = [r[c] for r in vs if r[c] is not None]
        return self._prune_by_bloom(files, commits, key_values)

    @staticmethod
    def _stat_int(v):
        """Normalize a stats value to the ORDERABLE number the commit
        log stores: ints as-is, timestamps as UTC epoch microseconds
        (naive values are UTC by session contract), floats as-is
        (round 10 — parquet footers carry exact double min/max, so
        zone maps and retention drops work on measure columns too;
        NaN → None, which disables skipping for that file/column),
        anything else unsupported (None → the column skips
        file-skipping). Used symmetrically at record time (parquet
        footer values) and prune time (query/batch bounds), so
        comparisons are always number vs number."""
        if isinstance(v, bool):
            return None
        if isinstance(v, int):
            return v
        if isinstance(v, float):
            return None if v != v else v
        if isinstance(v, _dt.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=_dt.timezone.utc)
            return int(v.timestamp() * 1_000_000)
        return None

    @staticmethod
    def _stat_key(v):
        """``_stat_int`` widened with STRINGS (round 12): a string
        stat passes through as-is. Parquet string min/max are
        byte-lexicographic over UTF-8, which orders identically to
        Python's codepoint comparison, so recorded string bounds and
        query string bounds compare soundly — what makes the posting
        index's range-clustered string ``v`` column zone-map
        prunable. Comparisons MUST still be type-homogeneous
        (``_stats_comparable``): a string never compares against a
        numeric sentinel."""
        if isinstance(v, str):
            return v
        return ManifestTable._stat_int(v)

    @staticmethod
    def _stats_comparable(a, b) -> bool:
        """True when two stat values live in the same order domain
        (both strings or both numbers) — the guard that keeps a
        mixed-type comparison from raising instead of falling back
        to keep-the-file."""
        return isinstance(a, str) == isinstance(b, str)

    @staticmethod
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

    def _prune_by_stats(
        self,
        files: list[str],
        commits: list[dict],
        key_ranges: dict[str, tuple],
    ) -> list[str]:
        """Drop candidate files whose recorded stats prove they cannot
        intersect the batch's key ranges — a file is skipped when ANY
        stats column's recorded [min, max] is disjoint from that
        column's batch range (each extra stats column only ever prunes
        MORE). Files without stats (written before stats tracking)
        are always kept, as are columns a file has no record for —
        skipping is an optimization, never a correctness filter.
        Legacy single-column entries (``[min, max]`` lists) are read
        as the default column's range."""
        key_ranges = {
            c: (self._stat_key(mn), self._stat_key(mx))
            for c, (mn, mx) in key_ranges.items()
        }
        key_ranges = {
            c: (mn, mx)
            for c, (mn, mx) in key_ranges.items()
            if mn is not None
            and mx is not None
            and self._stats_comparable(mn, mx)
        }
        if not key_ranges:
            return files
        recorded: dict[str, object] = {}
        for c in commits:
            recorded.update(c.get("stats", {}))
        kept = []
        for f in files:
            rel = os.path.relpath(f, self.data_dir)
            e = recorded.get(rel)
            if e is None:
                kept.append(f)
                continue
            if isinstance(e, list):
                e = {self.STATS_COLUMN: e}
            disjoint = any(
                col in e
                # type-heterogeneous record vs range (a string stat
                # against a numeric open-bound sentinel): keep the
                # file — skipping is an optimization, never a filter
                and self._stats_comparable(e[col][0], mn)
                and self._stats_comparable(e[col][1], mx)
                and (e[col][1] < mn or e[col][0] > mx)
                for col, (mn, mx) in key_ranges.items()
            )
            if not disjoint:
                kept.append(f)
        return kept

    def _count_and_dates(
        self, spark: SparkSession, rel_files: list[str]
    ) -> tuple[int, list[str]]:
        """Rows and distinct ``reading_timestamp`` dates of staged
        files, from one aggregation job. A dateless table (no
        ``reading_timestamp``) records no dates."""
        if not rel_files:
            return 0, []
        sdf = spark.read.parquet(
            *(os.path.join(self.data_dir, f) for f in rel_files)
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

    def idempotent_append(
        self,
        spark: SparkSession,
        batch: DataFrame,
        pk: list[str] = PK,
        max_retries: int = 20,
        cluster_by: list[str] | None = None,
        cluster_partitions: int | None = None,
    ) -> int:
        """PK-idempotent append through the commit log — the
        ``MERGE WHEN NOT MATCHED THEN INSERT`` of the manifest world.
        Safe under concurrent writers without any filesystem mutex:
        every interleaving either wins its commit number with a key
        set validated against all prior commits, or revalidates and
        retries. Returns rows written (0 when fully duplicate).

        FENCE INVARIANT: ``validated_through`` is always derived from
        the SAME ``numbered_snapshot()`` listing the validation
        anti-join/overlap check ran against (``max(number) + 1`` over
        that exact listing; 0 when empty) — never from a second,
        later directory listing. A commit that lands between two
        listings would be covered by the later fence but never
        validated against, which is exactly the concurrent-duplicate
        hole: fencing and validating MUST observe one atomic view of
        the log. Publishing at that fence is then sound because
        numbers are monotone (compaction preserves them — see
        ``next_commit_number``): any commit the writer has not
        validated takes a number >= the fence, so ``_put_if_absent``
        failing is the only way to miss concurrent content, and that
        failure routes into revalidation below."""
        self._check_constraints(batch)
        # Dateless tables (dimensions — no reading_timestamp): None
        # disables date pruning, so validation anti-joins against ALL
        # files (the safe direction) and the commit records no dates.
        # The dates come from one job over the caller's batch; over a
        # persisted micro-batch it is also the job that fills the cache.
        batch_dates = None
        if "reading_timestamp" in batch.columns:
            batch_dates = {
                str(r["d"])
                for r in batch.select(F.to_date("reading_timestamp").alias("d"))
                .distinct()
                .collect()
            }
            if not batch_dates:
                return 0
        in_batch = batch.dropDuplicates(pk)
        numbered = self.numbered_snapshot()
        self._check_schema_compat(in_batch, [c for _, c in numbered])
        fresh = self._anti_join(spark, in_batch, numbered, batch_dates, pk)
        staged: list[str] = []
        # Fence by NUMBER, not position: compaction leaves gaps in
        # the numbering, so len() could alias an old slot and let
        # an unvalidated concurrent commit slip under the publish.
        validated_through = self._fence(numbered)
        for _ in range(max_retries):
            if not staged:
                if cluster_by:
                    # write-time clustering (round 12): the
                    # dedup/anti-join shuffles hash-partition the
                    # batch, so without this the staged files each
                    # span the whole key range and the per-file
                    # stats prune nothing. Range-repartition +
                    # sort as the LAST op before staging, so each
                    # file covers a narrow slice — the incremental
                    # OPTIMIZE (cluster_by=...) that costs one
                    # extra batch-sized shuffle instead of a
                    # table-sized rewrite later.
                    fresh = fresh.repartitionByRange(
                        *([cluster_partitions] if cluster_partitions else []),
                        *cluster_by,
                    ).sortWithinPartitions(*cluster_by)
                # One write job dedups, validates and stages; the row
                # count is read back from the staged files' footers.
                staged = self._stage(fresh)
                stats = self._file_stats(staged)
                n = sum(st["#rows"] for st in stats.values())
                if n == 0:
                    self._discard_stage_all(staged)
                    return 0
                # A write task that got no rows still leaves a 0-row
                # file; it holds nothing, so it is never committed.
                for rel in [f for f in staged if stats[f]["#rows"] == 0]:
                    del stats[rel]
                    self._remove_staged_file(rel)
                staged = list(stats)
                record = _record(
                    self,
                    staged,
                    stats=stats,
                    count=n,
                    dates=batch_dates or (),
                    schema=in_batch.schema,
                )
            if _publish(
                self._commit_path(validated_through),
                validated_through,
                self._pre_publish_hook,
                **record,
            ):
                return n
            # Lost the race: validate only against the commits we
            # lost to. If their key sets can't overlap ours (date
            # pruning, then an actual key check of the staged files),
            # recommit the SAME staged files at the next number — no
            # rewrite. The new fence comes from THIS listing (fence
            # invariant above).
            numbered = self.numbered_snapshot()
            new_commits = [c for num, c in numbered if num >= validated_through]
            overlap_files = self._files(new_commits, batch_dates)
            validated_through = self._fence(numbered)
            if overlap_files:
                staged_keys = spark.read.parquet(
                    *[os.path.join(self.data_dir, f) for f in staged]
                ).select(*pk)
                theirs = spark.read.parquet(*overlap_files).select(*pk)
                if staged_keys.join(theirs, pk, "left_semi").limit(1).count():
                    # Genuine conflict: our staged rows now contain
                    # duplicates. Re-anti-join and re-stage against
                    # one fresh listing (validation + fence).
                    self._discard_stage_all(staged)
                    numbered = self.numbered_snapshot()
                    validated_through = self._fence(numbered)
                    fresh = self._anti_join(
                        spark, in_batch, numbered, batch_dates, pk
                    )
                    staged = []
        self._discard_stage_all(staged)
        raise CommitConflictError(
            f"gave up after {max_retries} commit attempts on "
            f"{self.table_dir}"
        )

    def _check_schema_compat(
        self, batch: DataFrame, commits: list[dict]
    ) -> None:
        """Additive-only schema evolution gate: a batch may ADD
        columns, but a column the table already has must keep its
        type — rejecting the write here (Delta's behavior) beats
        discovering unreadable mixed-type files later."""
        table_schema = self._evolved_schema(commits)
        if table_schema is None:
            return
        existing = {f.name: f.dataType for f in table_schema.fields}
        # type tombstones for ALTER-dropped columns (latest wins):
        # re-introducing a dropped name with a DIFFERENT type would
        # make pre-drop files unreadable under the new read schema
        dropped: dict[str, str] = {}
        for c in commits:
            dropped.update(c.get("dropped_types") or {})
        for f in batch.schema.fields:
            if f.name in existing and f.dataType != existing[f.name]:
                raise ValueError(
                    f"schema evolution is additive-only: column "
                    f"'{f.name}' is {existing[f.name].simpleString()} "
                    f"in the table but {f.dataType.simpleString()} in "
                    f"the batch"
                )
            if (
                f.name not in existing
                and f.name in dropped
                and f.dataType.json() != dropped[f.name]
            ):
                raise ValueError(
                    f"column '{f.name}' was ALTER-dropped with type "
                    f"{dropped[f.name]}; re-introducing it with "
                    f"{f.dataType.simpleString()} would make pre-drop "
                    "files unreadable — reuse the original type"
                )

    def _check_constraints(self, batch: DataFrame) -> None:
        """Screen a write batch against the table's CHECK constraints
        in one conditional-sum aggregate; raise with per-check counts
        on any violation. Constraints naming columns the batch lacks
        count every row as violating for not_null and are skipped for
        the value checks (a missing column is NULL everywhere)."""
        if not self.constraints:
            return
        from smart_meter_data_pipeline_spark.operators.expectations import (
            _check_name,
            _violation_expr,
        )

        aggs = []
        names = []
        for c in self.constraints:
            names.append(_check_name(c))
            if c["column"] not in batch.columns:
                if c["kind"] == "not_null":
                    aggs.append(F.count(F.lit(1)))
                else:
                    aggs.append(F.lit(0))
                continue
            aggs.append(F.sum(_violation_expr(c).cast("long")))
        row = batch.agg(
            *[a.alias(f"v{i}") for i, a in enumerate(aggs)]
        ).collect()[0]
        bad = {
            n: int(row[f"v{i}"] or 0)
            for i, n in enumerate(names)
            if (row[f"v{i}"] or 0) > 0
        }
        if bad:
            raise ValueError(
                f"batch violates CHECK constraints {bad}: nothing "
                "was written — fix or quarantine the rows upstream "
                "(sources/ingest.py split_valid is the quarantine "
                "path)"
            )

    @staticmethod
    def _fence(numbered: list[tuple[int, dict]]) -> int:
        """The publish number implied by one specific log listing:
        max commit number + 1 (0 on an empty log). Taking the fence
        and the validation set from the SAME listing is what makes the
        lock-free append sound — see idempotent_append."""
        return (max(num for num, _ in numbered) + 1) if numbered else 0

    # -- copy-on-write mutations -------------------------------------------

    def _rel(self, file_uri: str) -> str:
        """input_file_name() URI → data-dir-relative path."""
        from urllib.parse import unquote, urlparse

        p = urlparse(file_uri).path or file_uri
        return os.path.relpath(unquote(p), self.data_dir)

    def delete_keys(
        self,
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
        n, _ = self._cow_mutation(spark, keys, None, pk, max_retries)
        return n

    def upsert(
        self,
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
        u, i = self._cow_mutation(
            spark,
            batch,
            batch,
            pk,
            max_retries,
            expected_fence=_expected_fence,
        )
        return {"updated": u, "inserted": i}

    def upsert_partial(
        self,
        spark: SparkSession,
        batch: DataFrame,
        pk: list[str] = PK,
        max_retries: int = 5,
    ) -> dict:
        """MERGE with a PARTIAL-column batch — ``WHEN MATCHED THEN
        UPDATE SET <only the batch's columns>``: the unspecified
        columns CARRY FORWARD from the current row (a plain
        :meth:`upsert` replaces matched rows wholesale and would null
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
            fence = self._fence(self.numbered_snapshot())
            # read() lists again; if a commit lands in between, the
            # image is NEWER than the fence and the fence-pinned
            # commit below fails into a re-derive — never the
            # reverse (commit numbers are dense, so the pinned
            # fence succeeding proves no later state existed).
            current = self.read(spark)
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
                return self.upsert(spark, batch, pk, max_retries)
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
                return self.upsert(
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
            f"attempts on {self.table_dir}"
        )

    def upsert_if_newer(
        self,
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
            fence = self._fence(self.numbered_snapshot())
            current = self.read(spark)
            try:
                if current is None:
                    res = self.upsert(
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
                res = self.upsert(
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
            f"attempts on {self.table_dir}"
        )

    def _cow_mutation(
        self,
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
            self._check_constraints(batch)
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
                numbered = self.numbered_snapshot()
                commits = [c for _, c in numbered]
                fence = self._fence(numbered)
                if expected_fence is not None and fence != expected_fence:
                    # The batch was derived from (enriched against /
                    # filtered by) a snapshot that no longer heads the
                    # log — committing it would overwrite whatever the
                    # concurrent writer changed with pre-snapshot
                    # values (a lost update). Hand control back to the
                    # caller to re-derive against the current image.
                    raise _SnapshotAdvancedError(
                        f"{self.table_dir} advanced past fence "
                        f"{expected_fence} (now {fence})"
                    )
                self._check_schema_compat(in_keys, commits)
                if batch is not None:
                    # MERGE "UPDATE SET *" contract: matched rows are
                    # REPLACED by batch rows, so a batch missing table
                    # columns would silently null them on every
                    # matched row. Reject loudly (Delta errors here
                    # too); a partial-column restatement should enrich
                    # against read() first.
                    tbl_schema = self._evolved_schema(commits)
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
                cand = self._files(commits, key_dates)
                # Candidate files can span schema versions: read them
                # under the evolved schema (pre-evolution files yield
                # NULL for later columns) — a plain read would infer
                # one file's schema and silently drop the others'
                # columns from the rewrite.
                ev_schema = self._evolved_schema(commits)
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
                    for c in self.stats_columns
                    if c in pk and c in in_keys.columns
                ]
                key_ranges = self._batch_key_ranges(in_keys, stat_cols)
                cand = self._prune_by_stats(cand, commits, key_ranges)
                # bloom pruning under the same pk-only rule: project
                # the key frame to the match keys so a non-key bloom
                # column's restated values can never skip a file that
                # still holds the stale row
                cand = self._prune_candidates_by_bloom(
                    cand, commits, in_keys.select(*pk)
                )
                staged: list[str] = []
                removed_rel: list[str] = []
                n_matched = 0
                if cand:
                    tagged = self._read_files(
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
                            self._rel(u) for u in affected_uris
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
                        staged = self._stage(survivors)
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
                    staged = staged + self._stage(in_keys)
                else:
                    n_inserted = 0
                    if n_matched == 0:
                        return 0, 0
                # Commit dates = dates of ALL added files (survivors
                # can carry dates outside the mutation keys' range —
                # omitting them would let a future append's date-pruned
                # validation miss those rows and double-insert); count
                # = rows the added files physically hold.
                n_staged, added_dates = self._count_and_dates(spark, staged)
                record = _record(
                    self,
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
                    self._commit_path(fence),
                    fence,
                    self._pre_publish_hook,
                    **record,
                ):
                    if batch is not None:
                        return n_matched, n_inserted
                    return n_matched, 0
                # Lost the race: the file set we rewrote may have
                # changed under us — discard and rerun from scratch.
                self._discard_stage_all(staged)
            raise CommitConflictError(
                f"gave up after {max_retries} mutation attempts on "
                f"{self.table_dir}"
            )
        finally:
            in_keys.unpersist()

    def _discard_stage_all(self, rel_files: list[str]) -> None:
        """Discard every stage dir named by ``rel_files`` (a mutation
        stages survivors and batch under separate prefixes)."""
        for d in {os.path.dirname(f) for f in rel_files}:
            shutil.rmtree(
                os.path.join(self.data_dir, d), ignore_errors=True
            )

    def _remove_staged_file(self, rel: str) -> None:
        """Remove one staged file and its checksum, leaving the other
        files of its stage dir in place."""
        head, name = os.path.split(os.path.join(self.data_dir, rel))
        os.remove(os.path.join(head, name))
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(head, f".{name}.crc"))

    def _anti_join(
        self,
        spark: SparkSession,
        in_batch: DataFrame,
        numbered: list[tuple[int, dict]],
        batch_dates: set[str] | None,
        pk: list[str],
    ) -> DataFrame:
        """``in_batch`` minus the keys of the live files on its dates,
        as a lazy frame: the caller's write is the one job that runs
        it."""
        commits = [c for _, c in numbered]
        files = self._files(commits, batch_dates)
        if not files:
            return in_batch
        # Read under the evolved commit schema, as read() does.
        existing = self._read_files(
            spark, files, self._evolved_schema(commits)
        ).select(*pk)
        return in_batch.join(existing, pk, "left_anti")


def compact_log(table: ManifestTable, keep_last: int = 10) -> int:
    """Log compaction — the Delta-checkpoint move that keeps commit
    metadata BOUNDED: all commits except the newest ``keep_last`` are
    merged into one base commit (same data files, union of dates, no
    data rewritten), so a table ingesting thousands of micro-batches a
    day doesn't accumulate an O(commits) metadata scan per read.
    Rebases history: time travel / diff older than the base loses
    per-version granularity (exactly the trade VACUUMing a Delta/
    Iceberg table makes).

    Concurrency + crash safety: the log is compacted IN PLACE — the
    commits directory is never renamed or exchanged, which is what
    keeps lock-free ``idempotent_append`` writers safe (any
    swap-the-namespace design lets a writer publish a fresh number
    into the about-to-be-discarded directory, or lets two writers win
    the SAME number in the old and new directories — silent loss
    either way). Instead:

    1. The merged base is written to a temp file and ``os.rename``\\ d
       over the LOWEST commit file (atomic replace: readers see the
       old commit or the full base, never a torn file). Replacing
       that commit's content with the union of commits 0..cut-1 is
       validation-equivalent — every file named was already published
       at a number below every writer's fence.
    2. The remaining merged commit files are unlinked one by one. A
       reader listing mid-unlink sees the base PLUS a subset of the
       merged commits; the union names some data files twice, which
       ``_files``'s path-dedupe collapses — every intermediate state
       reads as exactly the committed table.

    A crash at any step leaves a log that still reads correctly
    (worst case: some merged commits linger next to the base until
    the next compaction). Concurrent appends are untouched: numbers
    are monotone, ``_put_if_absent`` never observes a missing
    directory, and nothing here touches numbers above the snapshot's
    max. The table flock only serializes compaction against other
    MAINTENANCE (vacuum / another compaction), not against writers.
    Returns the number of commits merged."""
    from smart_meter_data_pipeline_spark.sources.txn import table_lock

    with table_lock(table.table_dir):
        numbered = table.numbered_snapshot()
        if len(numbered) <= max(keep_last, 1):
            return 0
        cut = len(numbered) - keep_last
        if cut < 2:
            # merging 0 or 1 commits is a no-op (the base IS the commit)
            return 0
        base = numbered[:cut]
        # NUMBERS ARE PRESERVED: the base reuses the lowest existing
        # number (0 in practice), the tail keeps its original numbers.
        # Gaps where merged commits used to be are deliberate — see
        # next_commit_number() for why appends must never re-use them.
        base_num = base[0][0]
        # The base nets out copy-on-write removals WITHIN the merged
        # prefix (a file added then removed by merged commits is gone
        # from the log — after this its stage dir becomes vacuumable);
        # tail commits keep their own removed lists, which may still
        # reference base files (applied in order by _files).
        base_commits = [c for _, c in base]
        base_schema = ManifestTable._evolved_schema(base_commits)
        # Each merged file keeps the number of the commit that added
        # it: the secondary index treats a file whose number is past
        # its last refresh as unindexed (sources/index.py).
        added_numbers = {
            os.path.relpath(p, table.data_dir): n
            for p, n in table._file_origins(base).items()
        }
        record = _record(
            table,
            carried=list(added_numbers),
            carry_from=base_commits,
            count=sum(c.get("count", 0) for c in base_commits),
            dates={d for c in base_commits for d in c.get("dates", [])},
            schema=base_schema,
            compacted_from=cut,
            # ALTER DROP COLUMN markers inside the merged prefix are
            # already folded into base_schema; the dropped-type
            # tombstones carry over (latest wins) so the re-add-with-
            # different-type guard survives compaction for columns
            # still absent from the base schema.
            dropped_types={
                name: tp
                for c in base_commits
                for name, tp in (c.get("dropped_types") or {}).items()
                if base_schema is None
                or name not in {f.name for f in base_schema.fields}
            },
            added_numbers=added_numbers,
        )
        # The base is put under a fresh name and renamed over the
        # lowest commit. It REPRESENTS the table as of the last merged
        # commit, so it inherits that commit's timestamp: asof reads
        # inside the merged range are no longer resolvable (the same
        # granularity loss Delta log cleanup accepts).
        tmp = table._commit_path(base_num) + f".compacting.{uuid.uuid4().hex}"
        _publish(
            tmp,
            base_num,
            table._pre_publish_hook,
            committed_at=base[-1][1].get("committed_at"),
            **record,
        )
        os.rename(tmp, table._commit_path(base_num))
        for num, _ in base[1:]:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(table._commit_path(num))
        return cut


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
            target = set(table._net_relfiles(commits[: version + 1]))
            current = set(table._net_relfiles(commits))
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
            if ent is not None and not table._stats_comparable(
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
        n_survivors, added_dates = table._count_and_dates(spark, staged)
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
    exist yet). Metadata-only resolution (version_asof), one read
    per table."""
    out: dict[str, DataFrame | None] = {}
    for name, t in tables.items():
        try:
            out[name] = t.read(spark, asof=asof)
        except ValueError:
            out[name] = None
    return out


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

