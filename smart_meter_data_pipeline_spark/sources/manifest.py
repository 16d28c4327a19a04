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

This module is the commit-log core: the log, staging, the idempotent
append and the plain read. Features are table-first functions in
modules that import it one way: :mod:`.manifest_cow` (copy-on-write),
:mod:`.manifest_skipping` (sliced reads), :mod:`.manifest_timetravel`
and :mod:`.manifest_services` (OPTIMIZE, VACUUM, DROP COLUMN, CLONE).
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
        # The log dir vanished mid-call (compact_log never removes it;
        # an older version's swap-style compaction could). Treat as a
        # lost race — the caller revalidates against the current log
        # and retries — instead of leaking the exception (and the
        # staged parquet) out of idempotent_append.
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
        """Crash recovery for a log an older version's swap-style
        compaction left (:func:`compact_log` works in place): a crash
        between ``rename(commits, old)`` and ``rename(new, commits)``
        left NO commits dir and a stranded ``.old`` dir. Without
        recovery, ``makedirs`` would recreate an EMPTY log — the table
        silently reads as empty and a later vacuum deletes every data
        file as unreferenced. Restore the displaced log before anything
        else touches the table; the in-flight compaction is simply
        lost, which is the safe outcome."""
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
        (:mod:`.manifest_timetravel`) index the current log order,
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
                # A listed commit file was compacted away between the
                # listing and the open, or the dir is momentarily
                # missing (an older version's swap-style compaction
                # between its renames). The window is microseconds; re-list
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

    # -- read --------------------------------------------------------------

    def read(
        self, spark: SparkSession, dates: list | None = None
    ) -> DataFrame | None:
        """The committed table contents (None when no commits yet).

        ``dates`` prunes at the FILE level from commit metadata — the
        manifest's partition pruning: only files added by commits
        whose recorded dates overlap are read (removals still apply
        globally), so a one-day incremental read of a 10-year table
        costs one directory listing plus that day's files. File-level
        means over-approximate: a file mixing dates contributes all
        its rows — callers filter rows; the pruning bounds IO, not
        row membership.

        Schema evolution: the read schema is the union of the visible
        commits' recorded schemas in log order (additive evolution —
        files written before a column existed read it as NULL).
        Taking the schema from COMMIT METADATA, not from merging
        parquet footers, is what makes the evolved read free at scale:
        ``mergeSchema`` touches every file's footer, the log is one
        directory listing."""
        commits = self.snapshot()
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
        return self._read_files(spark, files, schema)

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
        shape for the default column — the pruning in
        :mod:`.manifest_skipping` reads both.)"""
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


