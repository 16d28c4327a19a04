"""Exact secondary index over a manifest table — posting lists
(value → data file) maintained as their OWN manifest table, the
Hyperspace / Iceberg-secondary-index shape.

Where the per-file membership indexes (Bloom bitmaps, string
dictionaries) are COMMIT-SIZED approximations — great when the column
is low-cardinality or false positives only waste a candidate read —
the posting index is EXACT at any cardinality: a point lookup opens
exactly the files that contain the value, no FP reads ever. The cost
moves to maintenance (an index refresh scans the files added since
the last refresh), which is why both kinds coexist in real lakehouse
stacks.

Soundness under staleness (the part that makes the index an
OPTIMIZATION, never a correctness filter):

- The index records, atomically with its postings, the highest
  table-commit number it has seen (``indexed_upto``).
- A point read serves from ``(postings ∩ live files)`` UNION ``every
  live file whose origin commit > indexed_upto`` — unindexed files
  are read unconditionally, exactly the files-without-records rule
  the Bloom/dictionary prunes follow.
- Copy-on-write rewrites produce NEW files with origin numbers past
  any older refresh, so a stale posting at a removed file is ignored
  (∩ live) and the rewritten rows are still found (> indexed_upto).
- The row filter always applies on top, so the pruned read equals
  the plain ``read().filter(...)`` whatever the refresh lag.

The index indexes ITSELF (round 12): postings are range-clustered by
``v`` at refresh time and the posting table records per-file ``v``
min/max (string zone maps), so a point lookup opens O(1) posting
files instead of scanning the whole posting table — at a million-file
table the posting table is itself ~10⁹ rows, and an "index" whose
every probe scans all of it would reintroduce the cost class it
exists to remove.

Reference parity: the reference's Postgres PK index
(01_create_schema.sql) gives it free point lookups; this is that
capability rebuilt for immutable parquet + commit log."""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable
from smart_meter_data_pipeline_spark.sources.manifest_cow import delete_keys
from smart_meter_data_pipeline_spark.sources.manifest_services import (
    optimize_table,
)
from smart_meter_data_pipeline_spark.sources.manifest_skipping import (
    read_where,
    skipping_report,
)

INDEXES_DIRNAME = "_indexes"


def _index_table_dir(table: ManifestTable, column: str) -> str:
    return os.path.join(table.table_dir, INDEXES_DIRNAME, column)


def _index_table(table: ManifestTable, column: str) -> ManifestTable:
    """The posting table, opened WITH its own skipping index: per-file
    [min, max] on ``v`` (int or string — string zone maps are the
    round-12 manifest extension this rides on). Persisted as table
    config, so a bare reopen keeps it."""
    return ManifestTable(
        _index_table_dir(table, column), stats_columns=["v"]
    )


def _meta_path(table: ManifestTable, column: str) -> str:
    return os.path.join(_index_table_dir(table, column), "_index_meta.json")


def _load_meta(table: ManifestTable, column: str) -> dict:
    try:
        with open(_meta_path(table, column)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {"indexed_upto": -1}


def _rel_file_expr(table: ManifestTable):
    """Data-dir-relative file name from ``_metadata.file_path``. The
    path carries a scheme ("file:/..." locally, "s3a://..." on object
    storage) — anchor on the data-dir marker instead of assuming the
    scheme's shape."""
    marker = table.data_dir + "/"
    return F.expr(
        "substring(_metadata.file_path, "
        f"instr(_metadata.file_path, '{marker}') "
        f"+ {len(marker)})"
    ).alias("rel_file")


def _refresh_generic(
    table: ManifestTable,
    spark: SparkSession,
    index_name: str,
    posting_builder,
    posting_partitions: int | None,
) -> dict:
    """The shared refresh protocol behind the exact-value and
    inverted-text indexes: pick the live files newer than the last
    refresh, hand them to ``posting_builder(new_files) -> (v,
    rel_file) frame``, land the postings pk-idempotently clustered by
    ``v``, then advance ``indexed_upto`` atomically."""
    numbered = table.numbered_snapshot()
    if not numbered:
        return {"files_indexed": 0, "postings": 0, "indexed_upto": -1}
    commits = [c for _, c in numbered]
    upto = numbered[-1][0]
    meta = _load_meta(table, index_name)
    origins = table._file_origins(numbered)
    live = table._files(commits)
    new_files = [
        f for f in live if origins.get(f, 0) > meta["indexed_upto"]
    ]
    idx = _index_table(table, index_name)
    n_postings = 0
    if new_files:
        postings = posting_builder(new_files)
        # posting-file count scales with the refresh's data-file
        # count (~one posting file per 8 data files, capped): enough
        # range slices that a lookup opens O(1) of them, few enough
        # that incremental refreshes don't accumulate tiny files;
        # override for tables whose per-file posting volume is known
        n_parts = posting_partitions or max(
            1, min(64, (len(new_files) + 7) // 8)
        )
        n_postings = idx.idempotent_append(
            spark,
            postings,
            pk=["v", "rel_file"],
            cluster_by=["v"],
            cluster_partitions=n_parts,
        )
    os.makedirs(_index_table_dir(table, index_name), exist_ok=True)
    # Monotonic advance: concurrent refreshes last-writer-win on the
    # meta file, and a slow refresh derived from an OLDER snapshot
    # must not regress indexed_upto past a racing refresh's newer
    # value (reads would stay sound — files just look 'unindexed' —
    # but freshness asserts like files_unindexed == 0 would flake).
    # Re-read right before the rename and write max(existing, ours);
    # skip the write entirely when the persisted value already won.
    persisted = _load_meta(table, index_name)
    current = persisted["indexed_upto"]
    if upto > current:
        # unique per WRITER, not per process: two threads sharing a
        # pid (a concurrent-refresh race) must not clobber each
        # other's tmp file between write and rename. Merge over the
        # persisted meta: vacuum_index owns other keys
        # (vacuumed_at_head) that a refresh must not drop.
        tmp = _meta_path(table, index_name) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(
                {**persisted, "indexed_upto": max(upto, current)}, fh
            )
        os.replace(tmp, _meta_path(table, index_name))
    return {
        "files_indexed": len(new_files),
        "postings": n_postings,
        "indexed_upto": max(upto, current),
    }


def refresh_index(
    table: ManifestTable,
    spark: SparkSession,
    column: str,
    posting_partitions: int | None = None,
) -> dict:
    """Build or incrementally refresh the posting index for
    ``column``: scan ONLY the live files whose origin commit is past
    the last refresh (first call scans everything), append their
    distinct (value, file) postings into the index's own manifest
    table (pk-idempotent on (v, rel_file) — a re-run of an
    interrupted refresh re-lands nothing), then advance
    ``indexed_upto`` atomically. Postings are written range-clustered
    by ``v`` (``cluster_by`` staging), so each posting file covers a
    narrow value slice and the point lookup's zone maps prune the
    posting table itself. Returns
    ``{"files_indexed": n, "postings": m, "indexed_upto": k}``."""

    def build(new_files: list[str]):
        # No .distinct() here (r15, guide §2.4): the landing
        # idempotent_append dedups on pk=(v, rel_file) anyway — the
        # same keys — so a distinct here was a second full aggregation
        # over the posting stream. The append's dropDuplicates still
        # partial-aggregates map-side, so shuffle bytes are unchanged.
        return (
            spark.read.parquet(*new_files)
            .select(F.col(column).alias("v"), _rel_file_expr(table))
            .filter(F.col("v").isNotNull())
        )

    return _refresh_generic(
        table, spark, column, build, posting_partitions
    )


def refresh_text_index(
    table: ManifestTable,
    spark: SparkSession,
    column: str,
    posting_partitions: int | None = None,
) -> dict:
    """Inverted TEXT index: (token → data file) posting lists over a
    whitespace-tokenized string column, maintained under the same
    incremental/idempotent/atomic protocol as the exact-value index
    (its own index name ``{column}__tokens``, so both kinds coexist
    on one column). This is needle-in-a-haystack full-text file
    pruning for a 100 TB corpus: "which files contain documents
    mentioning TOKEN" from the index alone, with the per-file token
    explosion paid ONCE at refresh, never per search. Postings are
    token-range-clustered, so a token lookup zone-map-prunes the
    posting table itself (the round-12 self-indexing rule)."""

    def build(new_files: list[str]):
        # No .distinct() — the landing append dedups on the same
        # (v, rel_file) pk; see refresh_index.
        return (
            spark.read.parquet(*new_files)
            .select(
                F.explode(
                    F.split(F.col(column), " +")
                ).alias("v"),
                _rel_file_expr(table),
            )
            .filter(F.col("v") != "")
        )

    return _refresh_generic(
        table,
        spark,
        column + "__tokens",
        build,
        posting_partitions,
    )


def _guarded_meta(table: ManifestTable, name: str, numbered: list) -> dict:
    """The index meta, with the SNAPSHOT-RACE guard (round 13): a
    reader pairs ITS snapshot with freshly-loaded index state, so if
    a CoW rewrite + refresh + vacuum all land between the read's
    ``numbered_snapshot()`` and its index consult, a file live in the
    read's snapshot can have its postings GC'd while its origin is
    <= the NEW indexed_upto — posting pruning would briefly become a
    correctness filter. Any commit that could strand the snapshot
    necessarily advances indexed_upto past the snapshot's head
    commit number, so ``indexed_upto > head`` detects exactly the
    dangerous interleaving: treat every file as unindexed (read all,
    prune nothing) for this one consult.

    Second trigger (round 14): a BARE ``vacuum_index`` after a CoW /
    retention commit GCs postings for files that are no longer live
    NOW but still live in an older reader's snapshot — and it does so
    WITHOUT advancing ``indexed_upto`` (only a refresh does that), so
    the first trigger never fires. ``vacuum_index`` therefore stamps
    the chain head it vacuumed at (``vacuumed_at_head``); a reader
    whose snapshot head is older than that stamp may be missing GC'd
    postings for files live in ITS snapshot, so it too falls back to
    treat-all-unindexed."""
    meta = _load_meta(table, name)
    head = numbered[-1][0] if numbered else -1
    if numbered and (
        meta["indexed_upto"] > head
        or meta.get("vacuumed_at_head", -1) > head
    ):
        return {"indexed_upto": -1}
    return meta


def _posting_df_caps(
    idx_df, vals: list, cap: int
) -> tuple[dict, set]:
    """Per-value posting counts (one JVM-side aggregation — only
    ``len(vals)`` rows reach the driver) and the values whose
    document frequency meets ``cap``. A value posted in most files
    prunes (almost) nothing, and collecting its posting list would be
    an O(n_files) driver transfer for zero benefit — the same
    hot-shingle cap dedup's LSH uses. Capped values are served as
    "all indexed files" WITHOUT collecting their postings."""
    counts = {
        r["v"]: r["n"]
        for r in idx_df.groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    capped = {v for v in vals if counts.get(v, 0) >= cap}
    return counts, capped


def _default_df_cap(n_indexed_files: int) -> int:
    # Cap only at >=90% occupancy: there the posting list buys <=1.1x
    # IO (stopword regime — the collect is O(n_files) for nothing),
    # while anything rarer keeps its exact pruning. Deliberately NOT
    # lower: capping serves "all indexed files", and a mid-occupancy
    # value (e.g. half the files) still prunes 2x — worth the collect,
    # and the existing point-read guarantee (a FRESHER index never
    # grows the candidate set) holds only if capping kicks in where
    # the posting set is already ~everything.
    return max(2, (9 * n_indexed_files + 9) // 10)


def index_candidate_files(
    table: ManifestTable,
    spark: SparkSession,
    column: str,
    values: list,
    numbered: list | None = None,
    index_name: str | None = None,
    want_report: bool = True,
    df_cap: int | None = None,
) -> tuple[list[str], dict]:
    """The sound candidate-file set for ``column IN (values)`` on the
    CURRENT snapshot: ``(postings ∩ live) ∪ unindexed-files`` — the
    shared core of :func:`index_point_read` and
    :func:`text_index_search` (``index_name`` selects which posting
    table; default the exact-value index), also consulted by
    ``manifest_skipping.read_where(where_in=...)`` (round 12) so reads
    get posting-exact pruning without the dedicated API. Returns
    ``(absolute file paths, report)``. CURRENT-only by contract: a
    time-travel read must not consult the index (vacuum_index keeps
    postings only for currently-live files, so an old snapshot's
    rewritten files could be wrongly dropped).

    ``want_report=False`` (the plain-read path) skips the posting
    table's own ``skipping_report`` — a second posting-metadata pass
    whose numbers only observability callers use. ``df_cap`` bounds
    the posting collect: any value posted in >= cap indexed files
    (default: 90% of them) is served as "all indexed files" without
    collecting its posting list — a high-occupancy value prunes
    nothing, and its collect would be O(n_files) driver-side."""
    if numbered is None:
        numbered = table.numbered_snapshot()
    name = index_name or column
    commits = [c for _, c in numbered]
    live = table._files(commits)
    origins = table._file_origins(numbered)
    meta = _guarded_meta(table, name, numbered)
    idx = _index_table(table, name)
    vals = [v for v in values if v is not None]
    unindexed = [
        f for f in live if origins.get(f, 0) > meta["indexed_upto"]
    ]
    indexed_live = [
        f for f in live if origins.get(f, 0) <= meta["indexed_upto"]
    ]
    posted: set[str] | None = set()
    posting_rep = {"files_live": 0, "files_read": 0}
    n_capped = 0
    if vals and indexed_live:
        idx_df = read_where(idx, spark, where_in={"v": vals})
        if idx_df is not None:
            if want_report:
                posting_rep = skipping_report(idx, where_in={"v": vals})
            cap = (
                df_cap
                if df_cap is not None
                else _default_df_cap(len(indexed_live))
            )
            _, capped = _posting_df_caps(idx_df, vals, cap)
            n_capped = len(capped)
            if capped:
                # one capped value already makes the union every
                # indexed file — nothing left to prune or collect
                posted = None
            else:
                posted = {
                    r["rel_file"]
                    for r in idx_df.select("rel_file")
                    .distinct()
                    .collect()
                }
    if posted is None:
        indexed_hits = indexed_live
    else:
        indexed_hits = [
            f
            for f in indexed_live
            if os.path.relpath(f, table.data_dir) in posted
        ]
    candidates = sorted(set(indexed_hits) | set(unindexed))
    report = {
        "files_live": len(live),
        "files_read": len(candidates),
        "files_unindexed": len(unindexed),
        "posting_files_live": posting_rep["files_live"],
        "posting_files_read": posting_rep["files_read"],
        "df_capped_values": n_capped,
    }
    return candidates, report


def index_point_read(
    table: ManifestTable,
    spark: SparkSession,
    column: str,
    values: list,
) -> tuple[DataFrame | None, dict]:
    """Point lookup served through the posting index. Returns
    ``(df, report)`` where the report carries the skipping numbers
    (``files_live`` / ``files_read`` / ``files_unindexed``, plus the
    posting table's own ``posting_files_live`` /
    ``posting_files_read``) the same way ``skipping_report`` does for
    the metadata indexes.

    The posting lookup itself goes through ``read_where(where_in=...)`` so
    the posting table's ``v`` zone maps prune posting FILES before a
    row is touched; the postings collect is bounded by the files that
    actually contain the looked-up values — the point-lookup regime
    the index exists for; a huge IN-list belongs on the zone-map path
    instead."""
    numbered = table.numbered_snapshot()
    if not numbered:
        return None, {"files_live": 0, "files_read": 0}
    commits = [c for _, c in numbered]
    vals = [v for v in values if v is not None]
    candidates, report = index_candidate_files(
        table, spark, column, vals, numbered
    )
    schema = ManifestTable._evolved_schema(commits)
    if not candidates:
        empty = (
            spark.createDataFrame([], schema)
            if schema is not None
            else None
        )
        return empty, report
    df = table._read_files(spark, candidates, schema).filter(
        F.col(column).isin(vals)
    )
    return df, report


def text_index_search(
    table: ManifestTable,
    spark: SparkSession,
    column: str,
    tokens: list[str],
    mode: str = "any",
    df_cap: int | None = None,
) -> tuple[DataFrame | None, dict]:
    """Full-text token search served through the inverted index
    (:func:`refresh_text_index`). ``mode="any"`` unions the tokens'
    candidate files; ``mode="all"`` INTERSECTS them — a file holding
    a document that contains every token must itself contain every
    token, so the intersection is still a sound superset (and far
    tighter). Unindexed files are always candidates (the staleness
    rule), and the row-level token predicate applies on top, so
    the result equals the plain whitespace-token filter at any
    refresh lag. ``df_cap`` overrides the default 90%-occupancy
    document-frequency cap (serving a capped token as "all indexed
    files" is ALWAYS a sound superset, so callers who know a token is
    hot may cap it explicitly instead of betting on the default
    threshold)."""
    if mode not in ("any", "all"):
        raise ValueError(f"mode must be 'any' or 'all', got {mode!r}")
    numbered = table.numbered_snapshot()
    if not numbered:
        return None, {"files_live": 0, "files_read": 0}
    commits = [c for _, c in numbered]
    name = column + "__tokens"
    live = table._files(commits)
    origins = table._file_origins(numbered)
    meta = _guarded_meta(table, name, numbered)
    idx = _index_table(table, name)
    toks = [t for t in tokens if t]
    by_tok: dict[str, set] = {t: set() for t in toks}
    unindexed = {
        f for f in live if origins.get(f, 0) > meta["indexed_upto"]
    }
    indexed_live = {
        f for f in live if origins.get(f, 0) <= meta["indexed_upto"]
    }
    capped: set[str] = set()
    posting_rep = {"files_live": 0, "files_read": 0}
    if toks and indexed_live:
        idx_df = read_where(idx, spark, where_in={"v": toks})
        if idx_df is not None:
            posting_rep = skipping_report(idx, where_in={"v": toks})
            # df-cap (round 13): a stopword-frequency token is posted
            # in ~every file — its posting list collect would be
            # O(n_files) driver-side and prune nothing. Count per
            # token first (JVM-side, len(toks) rows back), serve
            # capped tokens as "all indexed files", and RE-read the
            # posting table for only the uncapped tokens so the
            # hot token's posting files aren't even scanned twice.
            _, capped = _posting_df_caps(
                idx_df,
                toks,
                df_cap
                if df_cap is not None
                else _default_df_cap(len(indexed_live)),
            )
            uncapped = [t for t in toks if t not in capped]
            if uncapped:
                sub = read_where(idx, spark, where_in={"v": uncapped})
                if sub is not None:
                    for r in (
                        sub.select("v", "rel_file")
                        .distinct()
                        .collect()
                    ):
                        by_tok[r["v"]].add(r["rel_file"])
    rel_indexed = {
        f: os.path.relpath(f, table.data_dir) for f in indexed_live
    }
    per_tok = [
        (
            indexed_live
            if t in capped
            else {
                f
                for f, rel in rel_indexed.items()
                if rel in by_tok[t]
            }
        )
        | unindexed
        for t in toks
    ]
    if not per_tok:
        cand_set: set = set()
    elif mode == "any":
        cand_set = set().union(*per_tok)
    else:
        cand_set = set.intersection(*per_tok)
    candidates = sorted(cand_set)
    report = {
        "files_live": len(live),
        "files_read": len(candidates),
        "files_unindexed": len(unindexed),
        "posting_files_live": posting_rep["files_live"],
        "posting_files_read": posting_rep["files_read"],
        "df_capped_tokens": len(capped),
    }
    schema = ManifestTable._evolved_schema(commits)
    if not candidates:
        empty = (
            spark.createDataFrame([], schema)
            if schema is not None
            else None
        )
        return empty, report
    arr = F.split(F.col(column), " +")
    conds = [F.array_contains(arr, t) for t in toks]
    pred = conds[0]
    for c in conds[1:]:
        pred = (pred | c) if mode == "any" else (pred & c)
    df = table._read_files(spark, candidates, schema).filter(pred)
    return df, report


def vacuum_index(
    table: ManifestTable,
    spark: SparkSession,
    column: str,
    index_name: str | None = None,
) -> dict:
    """Garbage-collect STALE postings — entries whose data file is no
    longer live (copy-on-write rewrites, OPTIMIZE, retention drops).
    Reads stay sound without this (the lookup intersects postings
    with the live set), but a high-churn table's posting table grows
    with every rewrite; this is the index's vacuum.

    Implemented with the posting table's OWN mutation machinery: the
    stale postings anti-join ``(postings ⟕̸ live rel_files)`` runs
    distributed and a copy-on-write ``delete_keys`` rewrites the
    posting files that hold them (one maintenance call = clean
    posting files). The live-file frame is metadata-sized — the
    commit log already holds the file list driver-side. Returns
    ``{"postings_removed": n}``."""
    numbered = table.numbered_snapshot()
    idx = _index_table(table, index_name or column)
    idx_df = idx.read(spark)
    if not numbered or idx_df is None:
        return {"postings_removed": 0}
    live_rels = sorted(
        os.path.relpath(f, table.data_dir)
        for f in table._files([c for _, c in numbered])
    )
    live_df = spark.createDataFrame(
        [(r,) for r in live_rels], "rel_file string"
    )
    stale = idx_df.join(
        F.broadcast(live_df), "rel_file", "left_anti"
    ).select("v", "rel_file")
    n = delete_keys(idx, spark, stale, pk=["v", "rel_file"])
    if n:
        # Stamp the chain head this vacuum's live set came from: a
        # reader on an OLDER snapshot may hold files whose postings
        # were just GC'd, and nothing else advances the index meta on
        # a bare vacuum — _guarded_meta uses this stamp to fall back
        # to treat-all-unindexed for such readers (see its docstring).
        # Monotonic max, merged over the persisted meta so a racing
        # refresh's indexed_upto is never dropped.
        name = index_name or column
        persisted = _load_meta(table, name)
        head = numbered[-1][0]
        if head > persisted.get("vacuumed_at_head", -1):
            os.makedirs(_index_table_dir(table, name), exist_ok=True)
            tmp = _meta_path(table, name) + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as fh:
                json.dump(
                    {
                        **persisted,
                        "vacuumed_at_head": max(
                            head, persisted.get("vacuumed_at_head", -1)
                        ),
                    },
                    fh,
                )
            os.replace(tmp, _meta_path(table, name))
    return {"postings_removed": n}


def optimize_index(
    table: ManifestTable,
    spark: SparkSession,
    column: str,
    index_name: str | None = None,
    posting_partitions: int | None = None,
    only_if_more_than: int | None = None,
) -> dict:
    """Compact the posting table — the index's OPTIMIZE (round 13).

    Each incremental refresh writes its OWN ``v``-clustered slice
    set, and slices from different refreshes OVERLAP (text tokens
    especially: every batch contains the common tokens, so every
    refresh's posting files span the whole token range). After N
    refreshes a lookup therefore opens ~O(N) posting files — the
    measured skip ratio decays linearly with refresh count, and
    ``vacuum_index`` only removes STALE postings, never merges live
    ones. This pass rides the posting table's own ``optimize_table``
    with ``cluster_by=["v"]``: one global re-cluster rewrites all
    live posting files into disjoint ``v`` ranges, restoring the
    O(1)-posting-files-per-lookup property whatever the refresh
    history. Layout-only (rows untouched), one copy-on-write commit,
    fence-raced like every OPTIMIZE.

    ``only_if_more_than`` makes it a self-triggering maintenance
    hook: skip (cheap metadata check) unless the live posting-file
    count exceeds the threshold — call it after every refresh and it
    fires every ~K refreshes. ``posting_partitions`` overrides the
    output file count (default: the refresh sizing rule against the
    live posting-file count). Returns ``optimize_table``'s dict plus
    ``posting_files_before`` / ``posting_files_after``."""
    idx = _index_table(table, index_name or column)
    commits = idx.snapshot()
    before = len(idx._files(commits))
    if only_if_more_than is not None and before <= only_if_more_than:
        return {
            "files_rewritten": 0,
            "files_created": 0,
            "skipped": True,
            "posting_files_before": before,
            "posting_files_after": before,
        }
    n_parts = posting_partitions or max(1, min(64, (before + 7) // 8))
    rep = optimize_table(
        idx,
        spark,
        small_file_bytes=1 << 40,
        target_partitions=n_parts,
        cluster_by=["v"],
    )
    after = len(idx._files(idx.snapshot()))
    return {
        **rep,
        "posting_files_before": before,
        "posting_files_after": after,
    }


def maintain_index(
    table: ManifestTable,
    spark: SparkSession,
    column: str,
    text: bool = False,
    posting_partitions: int | None = None,
    max_posting_files: int = 32,
) -> dict:
    """One-call index maintenance — the composition a scheduled
    100 TB maintenance window runs per indexed column: incremental
    refresh (index the files new since last time), vacuum (GC
    postings stranded by CoW rewrites / retention — ALWAYS run: a
    metadata-only retention ``delete_where`` removes files without
    adding any, so "refresh indexed 0 files" does NOT imply nothing
    was stranded, and the no-op case costs one metadata-sized
    anti-join), then compaction (re-cluster the posting table, but
    ONLY when fragmentation crossed ``max_posting_files`` — the
    self-triggering ``only_if_more_than`` hook, so steady-state calls
    are metadata-only). ``text=True`` maintains the inverted-text
    index (``{column}__tokens``) instead of the exact-value one.
    Returns the three sub-reports merged."""
    index_name = column + "__tokens" if text else None
    if text:
        ref = refresh_text_index(
            table, spark, column, posting_partitions
        )
    else:
        ref = refresh_index(table, spark, column, posting_partitions)
    gc = vacuum_index(table, spark, column, index_name=index_name)
    opt = optimize_index(
        table,
        spark,
        column,
        index_name=index_name,
        posting_partitions=posting_partitions,
        only_if_more_than=max_posting_files,
    )
    return {"refresh": ref, "vacuum": gc, "optimize": opt}

