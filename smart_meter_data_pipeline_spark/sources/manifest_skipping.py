"""File skipping on a manifest table's read path: :func:`read_where`
opens only the files whose recorded zone maps, membership indexes and
secondary posting index (:mod:`.index`, current snapshot only) can
hold matching rows, then filters rows, so it equals the plain filtered
read; :func:`skipping_report` counts the same pruning from metadata.
The pruning helpers also serve the mutations and the catalog. The
posting-index consult imports :mod:`.index` lazily, because the index
reads its posting table through :func:`read_where`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable

# Collecting more key values than this to the driver would cost
# more than the candidate reads the bloom could save — above it
# the range stats carry the pruning alone.
BLOOM_PRUNE_MAX_KEYS = 4096


def read_where(
    table: ManifestTable,
    spark: SparkSession,
    where: dict | None = None,
    where_in: dict | None = None,
) -> DataFrame | None:
    """The committed table contents filtered by ``where`` and
    ``where_in``, opening only the files that can hold matching rows
    (None when no commits yet).

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
    them."""
    return _read_pruned(
        table, spark, table.numbered_snapshot(), where, where_in, True
    )


def _read_pruned(
    table: ManifestTable,
    spark: SparkSession,
    numbered: list[tuple[int, dict]],
    where: dict | None,
    where_in: dict | None,
    current: bool,
) -> DataFrame | None:
    """:func:`read_where` over the log prefix ``numbered``; only a
    ``current`` read consults posting indexes, which cover live files."""
    commits = [c for _, c in numbered]
    files = table._files(commits)
    schema = table._evolved_schema(commits)
    if not files:
        # as ManifestTable.read: None before the first commit, an
        # empty frame once a schema is recorded
        if commits and schema is not None:
            return spark.createDataFrame([], schema)
        return None
    kept = _pruned_files(
        table, files, numbered, where, where_in, spark if current else None
    )
    if not kept:
        if schema is not None:
            return spark.createDataFrame([], schema)
        # legacy table without recorded schemas: derive it
        # from one original file; the row filter empties it
        kept = files[:1]
    df = table._read_files(spark, kept, schema)
    return _filter_rows(df, where, where_in)


def _key_ranges(where: dict | None, where_in: dict | None) -> dict:
    """The zone-map ranges of a sliced read: each ``where`` range, its
    open ends as int sentinels (wider than any epoch-micros or bigint
    stat) so the column still prunes on its bounded side, and each
    ``where_in`` set's [min, max] on a column ``where`` leaves open."""
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
    return key_ranges


def _filter_rows(
    df: DataFrame, where: dict | None, where_in: dict | None
) -> DataFrame:
    """``df`` filtered row-level by ``where`` and ``where_in``: the
    semantics of a sliced read, applied on top of any file skipping."""
    for col, (lo, hi) in (where or {}).items():
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    for col, vals in (where_in or {}).items():
        df = df.filter(F.col(col).isin([v for v in vals if v is not None]))
    return df


def _pruned_files(
    table: ManifestTable,
    files: list[str],
    numbered: list[tuple[int, dict]],
    where: dict | None,
    where_in: dict | None,
    spark: SparkSession | None,
) -> list[str]:
    """``files`` minus those whose zone maps, membership indexes and,
    given ``spark``, secondary posting indexes prove they hold no row
    matching ``where`` and ``where_in``."""
    commits = [c for _, c in numbered]
    kept = _prune_by_stats(table, files, commits, _key_ranges(where, where_in))
    if where_in:
        kept = _prune_by_bloom(
            table,
            kept,
            commits,
            {
                c: [v for v in vs if v is not None]
                for c, vs in where_in.items()
            },
        )
        # Given spark (a current read, or a report that opts in), a
        # where_in column that carries a secondary index intersects
        # with the index's exact candidate set — point reads through
        # the standard read path get posting-exact pruning.
        if spark is not None:
            kept = _prune_by_posting_index(
                table, spark, kept, where_in, numbered
            )
    return kept


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


def _stats_comparable(a, b) -> bool:
    """True when two stat values live in the same order domain
    (both strings or both numbers) — the guard that keeps a
    mixed-type comparison from raising instead of falling back
    to keep-the-file."""
    return isinstance(a, str) == isinstance(b, str)


def _prune_by_stats(
    table: ManifestTable,
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
        c: (_stat_key(mn), _stat_key(mx))
        for c, (mn, mx) in key_ranges.items()
    }
    key_ranges = {
        c: (mn, mx)
        for c, (mn, mx) in key_ranges.items()
        if mn is not None
        and mx is not None
        and _stats_comparable(mn, mx)
    }
    if not key_ranges:
        return files
    recorded: dict[str, object] = {}
    for c in commits:
        recorded.update(c.get("stats", {}))
    kept = []
    for f in files:
        rel = os.path.relpath(f, table.data_dir)
        e = recorded.get(rel)
        if e is None:
            kept.append(f)
            continue
        if isinstance(e, list):
            e = {table.STATS_COLUMN: e}
        disjoint = any(
            col in e
            # type-heterogeneous record vs range (a string stat
            # against a numeric open-bound sentinel): keep the
            # file — skipping is an optimization, never a filter
            and _stats_comparable(e[col][0], mn)
            and _stats_comparable(e[col][1], mx)
            and (e[col][1] < mn or e[col][0] > mx)
            for col, (mn, mx) in key_ranges.items()
        )
        if not disjoint:
            kept.append(f)
    return kept


def _prune_by_bloom(
    table: ManifestTable,
    files: list[str],
    commits: list[dict],
    key_values: dict[str, list],
) -> list[str]:
    """Drop candidate files whose recorded bloom proves they
    contain NONE of the mutation's key values on some membership
    index: integer sets test the Bloom bitmap, string sets test
    the recorded dictionary list. Complements
    :func:`_prune_by_stats`: ranges skip clustered tables,
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
        c: [table._bloom_positions(v) for v in vs]
        for c, vs in int_sets.items()
    }
    recorded: dict[str, dict] = {}
    for c in commits:
        recorded.update(c.get("blooms", {}))
    kept = []
    for f in files:
        rel = os.path.relpath(f, table.data_dir)
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


def _prune_candidates_by_bloom(
    table: ManifestTable,
    files: list[str],
    commits: list[dict],
    keys: DataFrame,
) -> list[str]:
    """Point-lookup file skipping for a mutation's key frame:
    collect each bloom column's distinct values (bounded — a
    too-large key set skips bloom pruning entirely) and drop
    candidates whose bloom excludes all of them."""
    cols = [c for c in table.bloom_columns if c in keys.columns]
    if not files or not cols:
        return files
    key_values: dict[str, list] = {}
    for c in cols:
        vs = (
            keys.select(c)
            .distinct()
            .limit(BLOOM_PRUNE_MAX_KEYS + 1)
            .collect()
        )
        if len(vs) > BLOOM_PRUNE_MAX_KEYS:
            continue
        key_values[c] = [r[c] for r in vs if r[c] is not None]
    return _prune_by_bloom(table, files, commits, key_values)


def _prune_by_posting_index(
    table: ManifestTable,
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
        idx_dir = os.path.join(table.table_dir, "_indexes", col)
        if not os.path.isdir(idx_dir):
            continue
        from smart_meter_data_pipeline_spark.sources.index import (
            index_candidate_files,
        )

        cand, _ = index_candidate_files(
            table,
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
    table: ManifestTable,
    where: dict | None = None,
    where_in: dict | None = None,
    spark: SparkSession | None = None,
) -> dict:
    """Metadata-only dry run of :func:`read_where`'s
    file skipping: how many live files the zone maps + blooms keep
    vs skip. The observability half of read-path data skipping —
    tests and the bench assert on it without reading a byte of
    data. Pass ``spark`` to ALSO consult secondary posting
    indexes the way :func:`read_where` does (that part reads the posting
    table, so it is no longer metadata-only — hence opt-in)."""
    numbered = table.numbered_snapshot()
    files = table._files([c for _, c in numbered])
    kept = _pruned_files(table, files, numbered, where, where_in, spark)
    return {
        "files_live": len(files),
        "files_read": len(kept),
        "files_skipped": len(files) - len(kept),
    }
