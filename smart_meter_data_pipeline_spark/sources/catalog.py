"""Catalog-level MULTI-TABLE transactions — one commit chain for a
directory of tables, layered on the manifest commit machinery.

A single manifest table's put-if-absent log makes one table's commits
atomic; nothing in that protocol can make a fact-and-dimension pair
land together (the reference's Postgres sink gets this for free from
DB transactions — consumer/meter_consumer.py writes fact rows inside
one txn; an object-store deployment does not). The catalog closes the
gap by making the CATALOG the log: a numbered chain of catalog
commits, each embedding one table commit record per touched table
(the record format in :mod:`.manifest`'s docstring, written by the
same builder and published by the same writer, ``_publish``).
Readers resolve every table's state through the catalog chain ONLY,
so:

- One catalog commit touching N tables is atomic across all N —
  there is no intermediate state where the fact shows and the dim
  doesn't (``consistent_snapshot`` gives the TIME-based version of
  this guarantee for independent tables; the catalog gives the
  TRANSACTIONAL version for coupled writes).
- A crashed transaction (files staged, catalog commit never
  published) is invisible to every table at once; its stage is swept
  by :meth:`Catalog.vacuum`.
- Concurrent transactions serialize through the catalog fence:
  losing the put-if-absent race re-validates the staged batches'
  key sets against the commits that won (the manifest append's
  conflict rule, applied per touched table) and either recommits the
  same staged files at the next number or aborts with a conflict.

Scope (round 13): transactional APPENDs (the multi-table ingest
case) AND copy-on-write MUTATIONS — :meth:`CatalogTxn.upsert` /
:meth:`CatalogTxn.delete_where` stage rewrites exactly like the
manifest CoW engine, the record lists ``removed`` files, and one
catalog commit lands a fact restatement and its
dimension update atomically (the reference's "every batch is a
Postgres txn" property — consumer/meter_consumer.py:132-135 — for
coupled multi-table changes). Conflict rule at the fence: a txn
that MUTATED a table aborts if any commit it lost to also removed
files from that table (its rewrite was derived from a state that no
longer exists); append-only interleavings revalidate by key overlap
like appends do.

At 100 TB the catalog chain stays metadata-bounded the same way the
manifest log does: payloads are O(files touched), the chain is
compactable by the same merged-base move, and data files never move —
staging is already distributed, the commit is one conditional PUT.
The chain is the only log: there are no named refs (tags or
branches), and a reader pins a whole-catalog state by its positional
``version``.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.sources.manifest import (
    PK,
    CommitConflictError,
    ManifestTable,
    _publish,
    _record,
)
from smart_meter_data_pipeline_spark.sources.manifest_cow import (
    _batch_key_ranges,
    _count_and_dates,
    _rel,
)
from smart_meter_data_pipeline_spark.sources.manifest_services import (
    _refuse_branch_commits,
    _sweep_unreferenced,
)
from smart_meter_data_pipeline_spark.sources.manifest_skipping import (
    _filter_rows,
    _key_ranges,
    _prune_by_stats,
)

CATALOG_DIRNAME = "_catalog"


class Catalog:
    """A directory of tables whose states are decided by one shared
    commit chain (see module docstring)."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.commits_dir = os.path.join(root, CATALOG_DIRNAME)
        os.makedirs(self.commits_dir, exist_ok=True)
        # test seam fired before every catalog-wide publish (optimize,
        # compaction), same contract as
        # ManifestTable._pre_publish_hook
        self._pre_publish_hook = None

    # -- chain -------------------------------------------------------------

    def _commit_path(self, version: int) -> str:
        return os.path.join(self.commits_dir, f"{version:010d}.json")

    def numbered_snapshot(self) -> list[tuple[int, dict]]:
        return ManifestTable._read_log(self.commits_dir)

    def table_handle(self, name: str) -> ManifestTable:
        """The staging/IO handle for ``name`` — its own commit log is
        deliberately unused (the catalog holds the log); it supplies
        the data dir, the staging machinery, and the per-file stats
        reader."""
        return ManifestTable(os.path.join(self.root, "tables", name))

    def tables(self) -> list[str]:
        names: set[str] = set()
        for _, c in self.numbered_snapshot():
            names |= set(c.get("tables", {}))
        return sorted(names)

    def _table_commits(
        self, name: str, version: int | None = None
    ) -> list[dict]:
        """``name``'s embedded commit payloads in chain order, up to
        catalog version ``version`` (positional, like table time
        travel)."""
        out = []
        for i, (_, c) in enumerate(self.numbered_snapshot()):
            if version is not None and i > version:
                break
            p = c.get("tables", {}).get(name)
            if p is not None:
                out.append(p)
        return out

    def read(
        self,
        spark: SparkSession,
        name: str,
        version: int | None = None,
        where: dict | None = None,
        where_in: dict | None = None,
    ) -> DataFrame | None:
        """``name``'s catalog-visible contents (None before its first
        committed transaction). ``version`` time-travels the WHOLE
        CATALOG, not one table — version k shows every table as of
        catalog commit k, which is what makes cross-table reads at a
        pinned version mutually consistent by construction.

        ``where={col: (lo, hi)}`` / ``where_in={col: [v, ...]}`` add
        zone-map FILE pruning (round 13) against the per-file stats
        every catalog payload records, exactly like
        ``ManifestTable.read``: at a 100 TB catalog a sliced read
        must skip files from metadata, not open everything and let
        the row filter discard it. The row predicate always applies
        on top, so the pruned read equals the plain filtered read
        (skipping is an optimization, never a correctness filter).
        Stats columns follow the table's persisted config (configure
        once via ``ManifestTable(path, stats_columns=[...])`` on the
        handle's directory)."""
        t = self.table_handle(name)
        commits = self._table_commits(name, version)
        if not commits:
            return None
        files = t._files(commits)
        if not files:
            return None
        schema = ManifestTable._evolved_schema(commits)
        if where or where_in:
            files = _prune_by_stats(
                t, files, commits, _key_ranges(where, where_in)
            )
            if not files:
                if schema is not None:
                    return spark.createDataFrame([], schema)
                files = t._files(commits)[:1]
        df = t._read_files(spark, files, schema)
        return _filter_rows(df, where, where_in)

    def skipping_report(
        self,
        name: str,
        where: dict | None = None,
        where_in: dict | None = None,
    ) -> dict:
        """Metadata-only dry run of :meth:`read`'s file skipping for
        one table — how many live files the payload zone maps keep vs
        skip. The observability half of catalog data skipping; no
        data is read."""
        t = self.table_handle(name)
        commits = self._table_commits(name)
        files = t._files(commits)
        kept = _prune_by_stats(t, files, commits, _key_ranges(where, where_in))
        return {
            "files_live": len(files),
            "files_read": len(kept),
            "files_skipped": len(files) - len(kept),
        }

    def txn(self) -> "CatalogTxn":
        return CatalogTxn(self)

    # -- maintenance -------------------------------------------------------

    def vacuum(self, ttl_s: float = 3600.0) -> int:
        """Sweep data files no catalog commit references — crashed/
        aborted transactions' stages. TTL-guarded like the manifest
        vacuum so an in-flight transaction's fresh stage survives.
        (Do NOT run ``vacuum_unreferenced`` on a catalog table
        handle: its own log is empty by design and the sweep would
        read everything as unreferenced — this method is the catalog
        half of that lifecycle.) Refuses a catalog holding branch
        commits an older version wrote, like the manifest vacuum."""
        _refuse_branch_commits(
            os.path.join(self.root, "_catalog_branches"), self.root
        )
        tables_dir = os.path.join(self.root, "tables")
        if not os.path.isdir(tables_dir):
            return 0
        removed = 0
        for name in os.listdir(tables_dir):
            referenced = {
                f
                for c in self._table_commits(name)
                for f in c.get("added", [])
            }
            removed += _sweep_unreferenced(
                self.table_handle(name).data_dir, referenced, ttl_s, False
            )
        return removed


def optimize_catalog_table(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    small_file_bytes: int = 32 * 1024 * 1024,
    target_partitions: int | None = None,
    cluster_by: list[str] | None = None,
) -> dict:
    """OPTIMIZE for a CATALOG table (round 13) — the small-file
    compaction the chain-resolved world was missing: a streaming
    transaction sink lands one file set per micro-batch, and at a
    100 TB catalog those accumulate just like manifest micro-batch
    ingest. Live files under ``small_file_bytes`` are read once,
    rewritten right-sized (optionally range-clustered on
    ``cluster_by``), and swapped in with ONE catalog commit carrying
    ``added`` + ``removed`` — rows untouched, so readers before and
    after see identical contents, old chain versions still
    time-travel, and the originals become reclaimable once
    ``compact_catalog`` nets them out of the base (the same
    delete → compact → vacuum lifecycle). Publishes through the
    put-if-absent fence like every transaction: a lost race discards
    the stage and re-plans against the new chain; concurrent MUTATORS
    that lose to this commit abort by the removed-files rule (their
    rewrite basis changed), concurrent appends recommit unaffected.
    Returns ``{"files_rewritten", "files_created", "rounds"}``."""
    for attempt in range(5):
        numbered = cat.numbered_snapshot()
        t = cat.table_handle(name)
        commits = [
            c.get("tables", {}).get(name) for _, c in numbered
        ]
        commits = [c for c in commits if c is not None]
        live = t._files(commits)
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
        n_out = target_partitions or max(1, total // small_file_bytes)
        schema = ManifestTable._evolved_schema(commits)
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        src_df = reader.parquet(*small)
        if cluster_by:
            packed = src_df.repartitionByRange(
                int(n_out), *cluster_by
            ).sortWithinPartitions(*cluster_by)
        else:
            packed = src_df.repartition(int(n_out))
        staged = t._stage(packed)
        count, dates = _count_and_dates(t, spark, staged)
        fence = ManifestTable._fence(numbered)
        record = _record(
            t,
            staged,
            removed=sorted(os.path.relpath(f, t.data_dir) for f in small),
            count=count,
            dates=dates,
            schema=schema,
        )
        if _publish(
            cat._commit_path(fence),
            fence,
            cat._pre_publish_hook,
            tables={name: record},
            optimize=True,
        ):
            return {
                "files_rewritten": len(small),
                "files_created": len(staged),
                "rounds": attempt + 1,
            }
        t._discard_stage_all(staged)
    raise CommitConflictError(
        f"optimize gave up after 5 attempts on catalog table {name!r}"
    )


def _squash_payloads(payloads: list[dict]) -> dict:
    """Replay a table's per-commit payloads into ONE payload — the
    merge behind :func:`compact_catalog`. A ``removed`` entry drops the
    file if a prior payload in the window added it, else it CARRIES
    THROUGH to the squashed ``removed`` (empty under compaction, whose
    window starts at the chain's first commit; the replay stays
    faithful for any window).
    ``count`` is recomputed from the SURVIVING files' footer stats
    (``"#rows"``) when every survivor carries them — the concatenated
    sum double-counts after a delete→optimize→compact lifecycle
    (optimize's payload re-counts the rows it rewrote), and a consumer
    trusting ``count`` would see inflated totals. Survivors without row
    stats (legacy payloads) fall back to the concatenated sum, flagged
    ``count_is_upper_bound`` so no consumer mistakes it for live rows.
    The last schema wins; dates union over the window."""
    added: dict[str, None] = {}
    removed: list[str] = []
    dates: set = set()
    count = 0
    schema = None
    for p in payloads:
        for r in p.get("removed", []):
            if r in added:
                added.pop(r)
            else:
                removed.append(r)
        for f in p["added"]:
            added[f] = None
        count += p["count"]
        dates |= set(p.get("dates", []))
        schema = p.get("schema") or schema
    out = _record(
        None,
        carried=list(added),
        carry_from=payloads,
        removed=removed,
        count=count,
        dates=dates,
        schema=schema,
    )
    rows = [
        s.get("#rows") if isinstance(s, dict) else None
        for s in (out["stats"].get(f) for f in added)
    ]
    if all(r is not None for r in rows):
        out["count"] = sum(rows)
    else:
        out["count_is_upper_bound"] = True
    return out


def compact_catalog(cat: Catalog, keep_last: int = 10) -> int:
    """Catalog-chain compaction — the same merged-base move as the
    manifest's ``compact_log``: all commits except the newest
    ``keep_last`` merge into one base commit whose per-table payloads
    are the REPLAY of the merged prefix's (:func:`_squash_payloads` —
    removals net out the files mutations rewrote, making them
    vacuum-reclaimable; dates/stats union, last schema wins). The
    base reuses the lowest commit number; tail numbers are
    untouched, so the transaction fence stays monotone and a lost
    put-if-absent remains the only way to miss concurrent content.
    Positional version pinning
    coarsens for the merged range — the granularity trade every log
    cleanup makes. Returns the number of commits merged."""
    numbered = cat.numbered_snapshot()
    if len(numbered) <= max(keep_last, 1):
        return 0
    cut = len(numbered) - keep_last
    if cut < 2:
        return 0
    base = numbered[:cut]
    by_table: dict[str, list[tuple[int, dict]]] = {}
    for num, c in base:
        for name, p in c.get("tables", {}).items():
            by_table.setdefault(name, []).append((num, p))
    # Replay-merge (not concatenation): a CoW mutation in the merged
    # prefix removes files an earlier commit added — the base must
    # hold the NET file set or readers would resurrect deleted rows.
    merged = {}
    for name, numbered in by_table.items():
        t = cat.table_handle(name)
        merged[name] = _squash_payloads([p for _, p in numbered])
        # each merged file keeps the number of the catalog commit that
        # added it, for the index's freshness rule (as compact_log)
        merged[name]["added_numbers"] = {
            os.path.relpath(f, t.data_dir): n
            for f, n in t._file_origins(numbered).items()
        }
    base_num = base[0][0]
    # unique per writer, not per process (two THREADS share a pid —
    # the round-12 index-refresh race class), though compaction also
    # serializes under the chain lock
    tmp = cat._commit_path(base_num) + f".compacting.{uuid.uuid4().hex}"
    _publish(
        tmp,
        base_num,
        cat._pre_publish_hook,
        committed_at=base[-1][1].get("committed_at"),
        tables=merged,
        compacted_from=cut,
    )
    os.replace(tmp, cat._commit_path(base_num))
    for num, _ in base[1:]:
        try:
            os.unlink(cat._commit_path(num))
        except FileNotFoundError:
            pass
    return cut


class CatalogTxn:
    """Collects staged appends AND copy-on-write mutations across
    tables, then publishes ONE catalog commit. Usage::

        txn = catalog.txn()
        txn.append(spark, "fact", fact_batch)
        txn.upsert(spark, "fact", restated_rows)
        txn.upsert(spark, "dim_meters", dim_rows, pk=["meter_id"])
        txn.delete_where(spark, "fact", "reading_value < 0")
        txn.commit()   # all visible, atomically — or none

    Members see the txn's own earlier stages (read-your-own-writes):
    each operation resolves the table from the catalog chain PLUS the
    txn's accumulated payload, so an upsert after an append restates
    the appended rows too. Mutations of files this txn itself staged
    rewrite the STAGE (the removed stage file is discarded, never
    listed in the commit's ``removed`` — a published removal may only
    name chain-visible files)."""

    def __init__(self, cat: Catalog) -> None:
        self.cat = cat
        self._payloads: dict[str, dict] = {}
        self._pks: dict[str, list[str]] = {}
        self._mutated: set[str] = set()
        # chain length all staged work has been validated against;
        # commit() revalidates anything that landed past it (the
        # append→commit gap is a race window too, not just lost
        # put-if-absent attempts inside commit)
        self._validated_len: int | None = None
        self._spark: SparkSession | None = None
        self._committed = False
        # test seam, same contract as ManifestTable._pre_publish_hook
        self._pre_publish_hook = None

    def _visible_commits(self, name: str) -> list[dict]:
        """The table's payloads as THIS txn sees them: the catalog
        chain plus our own accumulated stage."""
        commits = self.cat._table_commits(name)
        p = self._payloads.get(name)
        if p is not None:
            commits = commits + [p]
        return commits

    def _note_chain_len(self) -> None:
        n = len(self.cat.numbered_snapshot())
        if self._validated_len is None:
            self._validated_len = n
        else:
            self._validated_len = min(self._validated_len, n)

    def _merge_payload(
        self,
        name: str,
        t: ManifestTable,
        spark: SparkSession,
        staged: list[str],
        removed: list[str],
        schema_json: str | None,
    ) -> None:
        """Fold one operation's (staged, removed) into the table's
        accumulated payload. A removal of a file WE staged earlier
        rewrites the stage in place (file discarded, not published);
        removals of chain files publish in ``removed``. Dates and
        count are recomputed from the payload's current staged files
        (one bounded agg — txn-sized, never table-sized)."""
        prior = self._payloads.get(name, {})
        prior_added = prior.get("added", [])
        for r in removed:
            if r in prior_added:
                t._remove_staged_file(r)
        removed_chain = {r for r in removed if r not in prior_added}
        kept = [f for f in prior_added if f not in removed]
        count, dates = _count_and_dates(t, spark, kept + staged)
        self._payloads[name] = _record(
            t,
            staged,
            carried=kept,
            carry_from=[prior],
            removed=sorted(set(prior.get("removed", [])) | removed_chain),
            count=count,
            dates=dates,
            schema=schema_json or prior.get("schema"),
        )

    def append(
        self,
        spark: SparkSession,
        name: str,
        batch: DataFrame,
        pk: list[str] = PK,
    ) -> int:
        """Stage a PK-idempotent append to ``name`` inside this
        transaction: dedupe within the batch, anti-join against the
        txn-visible state (catalog chain + rows already staged for
        ``name`` by this txn), stage the survivors. Nothing is
        visible until :meth:`commit`."""
        if self._committed:
            raise RuntimeError("transaction already committed")
        self._spark = spark
        self._note_chain_len()
        t = self.cat.table_handle(name)
        # Same write screens as the manifest append (round 13): the
        # table's persisted CHECK constraints gate the batch before
        # anything stages, and schema evolution stays additive-only —
        # a type-changed column would make the chain's evolved-schema
        # reader produce unreadable mixed-type files later.
        t._check_constraints(batch)
        t._check_schema_compat(batch, self._visible_commits(name))
        clean = batch.dropDuplicates(pk)
        # Date-pruned validation scan (the manifest append's move).
        # The date filter applies at the FILE level inside _files
        # (add-side only — removals always replay), never by dropping
        # whole commits: a mutation commit whose dates don't overlap
        # can still REMOVE an overlapping file, and skipping its
        # removal would anti-join the batch against deleted rows.
        batch_dates: set[str] | None = None
        if "reading_timestamp" in clean.columns:
            batch_dates = {
                str(r["d"])
                for r in clean.select(
                    F.to_date("reading_timestamp").alias("d")
                )
                .distinct()
                .collect()
            }
        commits = self._visible_commits(name)
        files = t._files(commits, batch_dates) if commits else []
        if files:
            schema = ManifestTable._evolved_schema(commits)
            reader = spark.read
            if schema is not None:
                reader = reader.schema(schema)
            clean = clean.join(
                reader.parquet(*files).select(*pk), pk, "left_anti"
            )
        clean = clean.persist()
        try:
            n = clean.count()
            if n == 0:
                return 0
            staged = t._stage(clean)
            self._merge_payload(
                name, t, spark, staged, [], clean.schema.json()
            )
            self._pks[name] = list(pk)
            return n
        finally:
            clean.unpersist()

    def upsert(
        self,
        spark: SparkSession,
        name: str,
        batch: DataFrame,
        pk: list[str] = PK,
    ) -> tuple[int, int]:
        """Copy-on-write MERGE inside the transaction — matched rows
        (by ``pk``) are replaced by batch rows, the rest insert, and
        the rewrite publishes with everything else in the txn's ONE
        catalog commit. The txn-local CoW engine mirrors the manifest
        one (sources/manifest.py ``_cow_mutation``): full-column
        UPDATE SET * contract, pk-only stats pruning of candidate
        files, survivors staged under the evolved schema. Returns
        ``(n_matched, n_inserted)``."""
        if self._committed:
            raise RuntimeError("transaction already committed")
        self._spark = spark
        self._note_chain_len()
        t = self.cat.table_handle(name)
        commits = self._visible_commits(name)
        clean = batch.dropDuplicates(pk).persist()
        try:
            if clean.limit(1).count() == 0:
                return 0, 0
            t._check_constraints(clean)
            t._check_schema_compat(clean, commits)
            tbl_schema = ManifestTable._evolved_schema(commits)
            if tbl_schema is not None:
                missing = [
                    f.name
                    for f in tbl_schema.fields
                    if f.name not in set(clean.columns)
                ]
                if missing:
                    raise ValueError(
                        "upsert batch is missing table columns "
                        f"{missing}: matched rows are replaced "
                        "wholesale (UPDATE SET *) — join the batch "
                        "against catalog.read() to carry forward "
                        "unchanged values"
                    )
            # date pruning only when the timestamp is a MATCH key
            # (manifest rule: under a timestamp-free pk a restatement
            # MOVES rows across dates)
            key_dates: set[str] | None = None
            if (
                "reading_timestamp" in pk
                and "reading_timestamp" in clean.columns
            ):
                key_dates = {
                    str(r["d"])
                    for r in clean.select(
                        F.to_date("reading_timestamp").alias("d")
                    )
                    .distinct()
                    .collect()
                }
            cand = t._files(commits, key_dates)
            stat_cols = [
                c
                for c in t.stats_columns
                if c in pk and c in clean.columns
            ]
            key_ranges = _batch_key_ranges(clean, stat_cols)
            cand = _prune_by_stats(t, cand, commits, key_ranges)
            staged: list[str] = []
            removed_rel: list[str] = []
            n_matched = 0
            tagged = None
            if cand:
                reader = spark.read
                if tbl_schema is not None:
                    reader = reader.schema(tbl_schema)
                tagged = reader.parquet(*cand).withColumn(
                    "_file", F.input_file_name()
                )
                matched = tagged.join(
                    clean.select(*pk), pk, "left_semi"
                )
                n_matched = matched.count()
                if n_matched:
                    affected = [
                        r["_file"]
                        for r in matched.select("_file")
                        .distinct()
                        .collect()
                    ]
                    removed_rel = sorted(
                        _rel(t, u) for u in affected
                    )
                    survivors = (
                        tagged.filter(F.col("_file").isin(affected))
                        .join(clean.select(*pk), pk, "left_anti")
                        .drop("_file")
                    )
                    staged = t._stage(survivors)
            n_inserted = (
                clean.join(tagged.select(*pk), pk, "left_anti").count()
                if tagged is not None
                else clean.count()
            )
            staged = staged + t._stage(clean)
            self._merge_payload(
                name, t, spark, staged, removed_rel,
                clean.schema.json(),
            )
            self._pks[name] = list(pk)
            self._mutated.add(name)
            return n_matched, n_inserted
        finally:
            clean.unpersist()

    def delete_keys(
        self,
        spark: SparkSession,
        name: str,
        keys: DataFrame,
        pk: list[str] = PK,
    ) -> int:
        """Copy-on-write DELETE by KEY FRAME inside the transaction —
        the GDPR-by-key member: ``keys`` (a DataFrame of pk tuples,
        arbitrarily large — never an IN-list) anti-joins the affected
        files' rows out, with pk-only stats pruning bounding the
        candidate scan. Lands with the rest of the txn atomically.
        Returns the matched-row count."""
        if self._committed:
            raise RuntimeError("transaction already committed")
        self._spark = spark
        self._note_chain_len()
        t = self.cat.table_handle(name)
        commits = self._visible_commits(name)
        in_keys = keys.dropDuplicates(pk).persist()
        try:
            if in_keys.limit(1).count() == 0:
                return 0
            files = t._files(commits) if commits else []
            if not files:
                return 0
            stat_cols = [
                c
                for c in t.stats_columns
                if c in pk and c in in_keys.columns
            ]
            key_ranges = _batch_key_ranges(in_keys, stat_cols)
            cand = _prune_by_stats(t, files, commits, key_ranges)
            if not cand:
                return 0
            schema = ManifestTable._evolved_schema(commits)
            reader = spark.read
            if schema is not None:
                reader = reader.schema(schema)
            tagged = reader.parquet(*cand).withColumn(
                "_file", F.input_file_name()
            )
            matched = tagged.join(in_keys.select(*pk), pk, "left_semi")
            n_matched = matched.count()
            if n_matched == 0:
                return 0
            affected = [
                r["_file"]
                for r in matched.select("_file").distinct().collect()
            ]
            removed_rel = sorted(_rel(t, u) for u in affected)
            survivors = (
                tagged.filter(F.col("_file").isin(affected))
                .join(in_keys.select(*pk), pk, "left_anti")
                .drop("_file")
            )
            staged = t._stage(survivors)
            self._merge_payload(
                name, t, spark, staged, removed_rel,
                schema.json() if schema is not None else None,
            )
            self._pks.setdefault(name, list(pk))
            self._mutated.add(name)
            return n_matched
        finally:
            in_keys.unpersist()

    def delete_where(
        self,
        spark: SparkSession,
        name: str,
        cond,
        pk: list[str] = PK,
    ) -> int:
        """Copy-on-write DELETE inside the transaction: rows where
        ``cond`` (a SQL string or Column) is TRUE leave the table;
        affected files rewrite to survivors, and the removal lands
        with the rest of the txn atomically. NULL ``cond`` keeps the
        row (SQL DELETE semantics). Returns the matched-row count."""
        if self._committed:
            raise RuntimeError("transaction already committed")
        self._spark = spark
        self._note_chain_len()
        t = self.cat.table_handle(name)
        commits = self._visible_commits(name)
        cond_col = F.expr(cond) if isinstance(cond, str) else cond
        files = t._files(commits) if commits else []
        if not files:
            return 0
        schema = ManifestTable._evolved_schema(commits)
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        tagged = reader.parquet(*files).withColumn(
            "_file", F.input_file_name()
        )
        matched = tagged.filter(cond_col)
        n_matched = matched.count()
        if n_matched == 0:
            return 0
        affected = [
            r["_file"]
            for r in matched.select("_file").distinct().collect()
        ]
        removed_rel = sorted(_rel(t, u) for u in affected)
        survivors = (
            tagged.filter(F.col("_file").isin(affected))
            .filter(
                F.coalesce(cond_col, F.lit(False)) == F.lit(False)
            )
            .drop("_file")
        )
        staged = t._stage(survivors)
        self._merge_payload(
            name, t, spark, staged, removed_rel,
            schema.json() if schema is not None else None,
        )
        self._pks.setdefault(name, list(pk))
        self._mutated.add(name)
        return n_matched

    def abort(self) -> None:
        """Discard every staged file; the transaction never happened."""
        for name, p in self._payloads.items():
            t = self.cat.table_handle(name)
            t._discard_stage_all(p["added"])
        self._payloads.clear()

    def _revalidate(self, new_chain: list[tuple[int, dict]]) -> None:
        """Per-table conflict check against the commits that landed
        after this txn's staged work was derived. Append-only
        interleavings revalidate by key overlap (re-reading our own
        staged files — bounded by the txn's size, never the table's);
        a table this txn MUTATED additionally aborts if any such
        commit removed files from it — our rewrite was derived from a
        file set that no longer heads the chain, and recommitting it
        could drop the concurrent writer's change (a lost update).
        Raises :class:`CommitConflictError` after discarding the
        stage."""
        # captured at stage time: getActiveSession() is THREAD-LOCAL
        # and returns None on a worker thread, where concurrent
        # transactions naturally run
        spark = self._spark
        for name, p in self._payloads.items():
            t = self.cat.table_handle(name)
            new_commits = [
                c.get("tables", {}).get(name) for _, c in new_chain
            ]
            new_commits = [c for c in new_commits if c is not None]
            if not new_commits:
                continue
            if name in self._mutated and any(
                c.get("removed") for c in new_commits
            ):
                self.abort()
                raise CommitConflictError(
                    f"catalog txn mutated table {name!r} but a "
                    "concurrent commit also removed files from it; "
                    "staged files discarded — re-run the "
                    "transaction against the new state"
                )
            new_files = t._files(new_commits)
            if not new_files or not p["added"]:
                continue
            pk = self._pks[name]
            ours = spark.read.parquet(
                *(os.path.join(t.data_dir, f) for f in p["added"])
            ).select(*pk)
            clash = (
                ours.join(
                    spark.read.parquet(*new_files).select(*pk),
                    pk,
                    "left_semi",
                )
                .limit(1)
                .count()
            )
            if clash:
                self.abort()
                raise CommitConflictError(
                    f"catalog txn lost a key-overlapping race on "
                    f"table {name!r}; staged files discarded — "
                    "re-run the transaction against the new state"
                )

    def commit(self, max_retries: int = 20) -> int:
        """Publish every staged table in ONE put-if-absent catalog
        commit. Fence invariant as in the manifest append: the fence
        and the validation state come from the same chain listing.
        Anything that landed since the txn's FIRST staged operation
        is validated before the first attempt (the append→commit gap
        is a race window too); a lost put-if-absent re-validates
        against exactly the commits it lost to and recommits the same
        staged files at the next number when compatible, or discards
        and raises on a genuine conflict (key overlap for appends;
        any concurrent file removal for mutated tables). Returns the
        number of tables committed."""
        if self._committed:
            raise RuntimeError("transaction already committed")
        if not self._payloads:
            return 0
        numbered = self.cat.numbered_snapshot()
        validated_len = (
            self._validated_len
            if self._validated_len is not None
            else len(numbered)
        )
        for _ in range(max_retries):
            if len(numbered) > validated_len:
                self._revalidate(numbered[validated_len:])
                validated_len = len(numbered)
            fence = ManifestTable._fence(numbered)
            if _publish(
                self.cat._commit_path(fence),
                fence,
                self._pre_publish_hook,
                tables=self._payloads,
            ):
                self._committed = True
                return len(self._payloads)
            numbered = self.cat.numbered_snapshot()
        self.abort()
        raise CommitConflictError(
            f"gave up after {max_retries} catalog commit attempts on "
            f"{self.cat.root}"
        )


class CatalogTableView(ManifestTable):
    """Read/maintenance ManifestTable VIEW of one catalog table: the
    commit "log" is the catalog chain's embedded payloads for
    ``name``, numbered by CATALOG commit number (round 14).

    Why it exists: the secondary/text index machinery
    (``sources/index.py``) speaks the manifest log protocol —
    ``numbered_snapshot()`` for the fence, ``_file_origins`` for the
    origin > indexed_upto staleness rule, ``_files`` for the live
    set. A catalog table's OWN manifest log is deliberately empty
    (the catalog holds the log), so handing ``table_handle(name)`` to
    the index would index nothing. This view re-points the log
    accessors at the catalog chain, and every log-replaying consumer
    — index refresh/consult/vacuum/compact, ``maintain_index``,
    skipping reports — composes with catalog transactions unchanged:
    a CatalogTxn CoW upsert's rewritten files carry the txn's catalog
    commit number as their origin, so they read as UNINDEXED until
    the next refresh, exactly like a plain manifest upsert.

    WRITE operations must keep going through :class:`CatalogTxn` —
    the view's mutation methods would publish to the table's unused
    private log and diverge from the catalog. Index maintenance is
    safe: postings live in their own manifest table under the table
    dir, and the only non-posting writes are the index meta files."""

    def __init__(self, cat: Catalog, name: str) -> None:
        super().__init__(os.path.join(cat.root, "tables", name))
        self._cat = cat
        self._name = name

    def numbered_snapshot(self) -> list[tuple[int, dict]]:
        out = []
        for num, c in self._cat.numbered_snapshot():
            p = c.get("tables", {}).get(self._name)
            if p is not None:
                out.append((num, p))
        return out

    def snapshot(self) -> list[dict]:
        return [c for _, c in self.numbered_snapshot()]

    def _fence(self, numbered):  # noqa: ARG002 — guard, not a fence
        # Every manifest mutation fences before publishing; fencing
        # through the view means someone is about to commit to the
        # table's PRIVATE log, which catalog readers ignore — the
        # write would be silently invisible. Fail loud instead.
        raise TypeError(
            "CatalogTableView is read/maintenance-only: route writes "
            f"through Catalog.txn() (table {self._name!r})"
        )
