"""Streaming reads FROM a manifest table — the Delta "table as a
stream source" feature: the COMMIT LOG is the offset ledger (commit
numbers play the Kafka offset), each micro-batch delivers exactly the
files the commits in its offset range ADDED, and checkpoint recovery
replays deterministically because a batch is a pure function of its
offset range over immutable commits. This is the post-image CDC feed
(the streaming form of ``manifest_timetravel.diff``): appends and the added
half of copy-on-write mutations stream through; removals are metadata
the batch consumer handles (same contract as ``diff``).

Spark 4 Python DataSource rules honored: classes are defined inside a
factory (by-value pickling), and worker-side ``read()`` touches only
pyarrow/os — never this package (workers launched outside the repo
cannot import it)."""

from __future__ import annotations


def make_manifest_cdc_datasource():
    """Factory returning the ``manifest_cdc`` DataSource class. ALL
    helpers live inside the factory: the registered class pickles by
    value into Spark's Python workers, which do not have this repo on
    sys.path — a module-level reference would die there with
    ModuleNotFoundError (the applyInPandasWithState closure rule)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    # StructType-json type name -> DDL, for the schema the commit log
    # records. Deliberately small: the engine's tables use exactly
    # these; an exotic type should fail loudly rather than misread.
    ddl_map = {
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp_ntz",
    "long": "bigint",
    "integer": "int",
    "short": "smallint",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "binary": "binary",
}


    def evolved_fields(table_dir):
        """(name, structtype-json type) of the table's evolved read
        schema, folded from the commit log with drop_columns markers
        applied — os+json only."""
        import json
        import os

        cdir = os.path.join(table_dir, "_commits")
        fields = {}
        for fname in sorted(os.listdir(cdir)):
            if not fname.endswith(".json"):
                continue
            with open(os.path.join(cdir, fname)) as fh:
                c = json.load(fh)
            for name in c.get("drop_columns", []):
                fields.pop(name, None)
            if c.get("schema"):
                for f in json.loads(c["schema"])["fields"]:
                    fields.setdefault(f["name"], f["type"])
        return list(fields.items())

    class _FileSlice(InputPartition):
        def __init__(self, path: str, cols: list[str]):
            self.path = path
            self.cols = cols

    class _CdcStreamReader(DataSourceStreamReader):
        """Offsets are COMMIT NUMBERS (stable, monotone, gap-tolerant
        after log compaction): offset = {"next": n} means commits
        numbered < n are consumed. Append-only contract: a stream
        should start from a table whose history won't be compacted
        past the checkpoint (same operational rule as Delta's
        startingVersion)."""

        def __init__(self, options):
            self.table_dir = options["path"]
            self.cols = [n for n, _ in evolved_fields(self.table_dir)]
            # Delta's startingVersion: begin the stream AT this commit
            # number (earlier history is not replayed) — how a new
            # consumer attaches to a long-lived table without paying
            # a full-history backfill.
            self.starting = int(options.get("startingversion", "0"))

        def _numbers(self):
            import os

            cdir = os.path.join(self.table_dir, "_commits")
            return sorted(
                int(f[:-5])
                for f in os.listdir(cdir)
                if f.endswith(".json")
            )

        def initialOffset(self):
            return {"next": self.starting}

        def latestOffset(self):
            nums = self._numbers()
            return {"next": (nums[-1] + 1) if nums else 0}

        def partitions(self, start, end):
            import json
            import os

            out = []
            for n in self._numbers():
                if not (start["next"] <= n < end["next"]):
                    continue
                with open(
                    os.path.join(
                        self.table_dir, "_commits", f"{n:010d}.json"
                    )
                ) as fh:
                    c = json.load(fh)
                for rel in c.get("added", []):
                    out.append(
                        _FileSlice(
                            os.path.join(self.table_dir, "_data", rel),
                            self.cols,
                        )
                    )
            return out or [_FileSlice("", [])]

        def read(self, partition):
            if not partition.path:
                return
            import pyarrow.parquet as pq

            t = pq.read_table(partition.path)
            n = t.num_rows
            series = []
            for c in partition.cols:
                if c in t.column_names:
                    series.append(t.column(c).to_pylist())
                else:  # pre-evolution file: later columns read NULL
                    series.append([None] * n)
            yield from zip(*series)

        def commit(self, end):
            pass  # commits are immutable; nothing to ack

    class ManifestCdcDataSource(DataSource):
        @classmethod
        def name(cls):
            return "manifest_cdc"

        def schema(self):
            fields = evolved_fields(self.options["path"])
            if not fields:
                raise ValueError(
                    "manifest_cdc: table has no recorded schema to "
                    "stream (write at least one commit first)"
                )
            parts = []
            for name, tp in fields:
                if not isinstance(tp, str) or tp not in ddl_map:
                    raise ValueError(
                        f"manifest_cdc: unsupported column type {tp!r}"
                        f" for '{name}'"
                    )
                parts.append(f"{name} {ddl_map[tp]}")
            return ", ".join(parts)

        def streamReader(self, schema):
            return _CdcStreamReader(self.options)

    return ManifestCdcDataSource
