"""The benchmark's workloads.

Each is a closed loop: every input exists before the timed part
starts, and Spark pulls the next micro-batch when the last one ends.
A workload generates its inputs from the seed without Spark
(``generate``), lands its seed tables (``setup``) and warms the engine
up with at least one whole repetition (``warmup``), both counted in
``setup_s``, then runs timed repetitions (``repetition``), each
followed by output checks against the independently computed
expectations in ``inputs``.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import inputs

COLS = [
    "reading_timestamp",
    "meter_id",
    "reading_consumption_milliwatts",
    "reading_production_milliwatts",
    "status",
]


@dataclass
class Rep:
    """One timed repetition: its wall time, the rows it landed and the
    seconds they took, its batch latencies, its CPU seconds (JIT
    compiler apart, see ``Stopwatch``), the stream progress records,
    the Spark stage accounting of the timed part (see
    ``tracing.StageAccounting``) and layer facts read after it."""

    cycle_s: float
    rows: int
    busy_s: float
    batches_ms: list[float]
    cpu_s: float
    jit_cpu_s: float
    stages: dict = field(default_factory=dict)
    progress: list[dict] = field(default_factory=list)
    facts: dict[str, float] = field(default_factory=dict)


def cpu_seconds(jvm_pid: int) -> tuple[float, float]:
    """CPU seconds used so far by the Spark JVM (with the processes it
    started and waited for, such as the launcher) and this (driver)
    process, and the part of it the JVM's JIT compiler threads used."""
    tick = os.sysconf("SC_CLK_TCK")

    def stat(path: str, fields: int = 2) -> tuple[str, float]:
        """Thread or process name, and its user + system time (plus
        its waited-for children's with ``fields=4``)."""
        with open(path) as fh:
            head, rest = fh.read().rsplit(")", 1)
        f = rest.split()
        return head.split("(", 1)[1], sum(int(x) for x in f[11 : 11 + fields]) / tick

    jit = 0.0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            name, used = stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        except (FileNotFoundError, ProcessLookupError):
            continue
        if "CompilerThre" in name:
            jit += used
    me = os.times()
    return stat(f"/proc/{jvm_pid}/stat", 4)[1] + me.user + me.system, jit


class Stopwatch:
    """Wall seconds, and CPU seconds of the Spark JVM and this process
    apart from the JIT compiler's, from construction until ``stop``.

    The JIT compiler threads are left out because in a JVM started for
    one run they are still compiling the engine's code (and the classes
    Spark generates for every new plan) long after warm-up, by an
    amount that varies from run to run more than the pipeline's own
    work does. Their seconds are returned separately."""

    def __init__(self, jvm_pid: int) -> None:
        self.pid = jvm_pid
        self.wall = time.perf_counter()
        self.cpu, self.jit = cpu_seconds(jvm_pid)

    def stop(self) -> tuple[float, float, float]:
        """(wall seconds, CPU seconds without the JIT, JIT seconds)."""
        cpu, jit = cpu_seconds(self.pid)
        jit -= self.jit
        return time.perf_counter() - self.wall, cpu - self.cpu - jit, jit


class Checks:
    """Output checks and failed operations, counted toward
    ``attempted``/``failed``."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed: list[str] = []

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(what)

    def equal(self, what: str, got, want) -> None:
        self.op(got == want, f"{what}: got {got!r}, want {want!r}")


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, tracer, checks: Checks) -> None:
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer
        self.checks = checks
        self.spark = None
        self.stages = None  # tracing.StageAccounting, set once Spark is up

    def setup(self) -> None:
        """Land the workload's seed tables, if it has any."""

    def warmup(self) -> None:
        self.repetition()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    # -- shared steps -------------------------------------------------------

    def start_clock(self) -> Stopwatch:
        """Start timing; Spark jobs run before this (checks of the last
        repetition) are left out of the stage accounting."""
        self.stages.take()
        return Stopwatch(self.spark.sparkContext._gateway.proc.pid)

    def stop_clock(self, clock: Stopwatch) -> tuple[float, float, float, dict]:
        """(wall s, CPU s without the JIT, JIT s, stage accounting)."""
        wall, cpu, jit = clock.stop()
        return wall, cpu, jit, self.stages.take()

    def stream(self, src: str, target: str, sink: str, tag: str) -> tuple[float, list[dict]]:
        """Drain ``src`` through ``start_ingest_stream`` into
        ``target``; returns the wall time from start until the query
        terminated, and the per-batch progress records."""
        from smart_meter_data_pipeline_spark.streaming import ingest_stream

        rec = ingest_stream.ProgressRecorder()
        self.spark.streams.addListener(rec)
        try:
            start = time.perf_counter()
            with self.tracer.span("streaming.ingest_stream.start_ingest_stream"):
                query = ingest_stream.start_ingest_stream(
                    self.spark,
                    src,
                    target,
                    self.fresh(f"checkpoint_{tag}"),
                    quarantine_target=self.fresh(f"quarantine_{tag}"),
                    sink=sink,
                )
                query.awaitTermination()
            wall = time.perf_counter() - start
            last = query.lastProgress["batchId"] if query.lastProgress else -1
            # listener events arrive asynchronously on the callback thread
            deadline = time.monotonic() + 30
            while time.monotonic() < deadline and not (
                rec.progress and rec.progress[-1]["batchId"] >= last
            ):
                time.sleep(0.02)
        finally:
            self.spark.streams.removeListener(rec)
        self.checks.equal(f"{tag}: progress events", len(rec.progress), last + 1)
        return wall, rec.progress

    def check_table(self, tag: str, table, r: inputs.Readings, days: range) -> None:
        """Landed rows are exactly the distinct generated readings of
        ``days``: no duplicate key, the right content, each reading in
        its own day."""
        per_day = {
            str(row["d"]): (row["n"], row["keys"], row["cons"])
            for row in table.groupBy(F.col("reading_date").alias("d"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct("reading_timestamp", "meter_id").alias("keys"),
                F.sum("reading_consumption_milliwatts").alias("cons"),
            )
            .collect()
        }
        want = {}
        for d in days:
            ticks = slice(d * inputs.TICKS_PER_DAY, (d + 1) * inputs.TICKS_PER_DAY)
            n = r.n_meters * inputs.TICKS_PER_DAY
            want[inputs.day_text(d)] = (n, n, inputs.consumption_sum(r, ticks))
        self.checks.equal(f"{tag}: rows, distinct keys, consumption per day", per_day, want)

    def check_quarantine(self, tag: str, want: dict[str, int]) -> None:
        got = {reason: 0 for reason in want}
        q = self.path(f"quarantine_{tag}")
        if os.path.isdir(q):
            for row in self.spark.read.parquet(q).groupBy("reject_reason").count().collect():
                got[row["reject_reason"]] = row["count"]
        self.checks.equal(f"{tag}: quarantined messages per reason", got, want)

    def check_marts(self, tag: str, billing, grid, r: inputs.Readings) -> None:
        """Both marts' consumption totals equal the exact integer-mWh
        sums of the per-meter deltas, per billing day and load hour."""
        per_day, per_hour = inputs.expected_marts(r)
        mwh = F.round(F.col("total_consumption_kwh") * 1e6).cast("long")
        got_day = {
            str(row["d"]): (row["mwh"], row["n"])
            for row in billing.groupBy(F.col("billing_date").alias("d"))
            .agg(F.sum(mwh).alias("mwh"), F.count(F.lit(1)).alias("n"))
            .collect()
        }
        want_day = {d: (v, r.n_meters) for d, v in per_day.items()}
        self.checks.equal(f"{tag}: billing consumption and rows per day", got_day, want_day)
        got_hour = {
            row["h"].strftime("%Y-%m-%d %H:00:00"): row["mwh"]
            for row in grid.groupBy(F.col("load_hour").alias("h"))
            .agg(F.sum(mwh).alias("mwh"))
            .collect()
        }
        self.checks.equal(f"{tag}: grid consumption per hour", got_hour, per_hour)


class IngestDay(Workload):
    """One day of wire-JSON deliveries, one file per 90 minutes (six
    15-minute ticks), a quarter of them delivered twice, drained
    through the default lock sink into an empty table (five
    micro-batches)."""

    name = "ingest_day"
    METERS = 1000

    def generate(self) -> None:
        self.r = inputs.gen_readings(self.rng, self.METERS, 1)
        files, self.quarantined = inputs.day_deliveries(
            self.rng, self.r, 0, ticks_per_file=6, redeliver_share=0.25,
            malformed_share=0.002,
        )
        src = inputs.write_deliveries(self.path("deliveries"), files)
        warm = self.path("warmup_deliveries")
        os.makedirs(warm)
        for f in src[:8]:
            shutil.copy2(f, warm)

    def warmup(self) -> None:
        """A two-batch stream, then a whole repetition."""
        self.stream(self.path("warmup_deliveries"), self.fresh("warmup_fact"), "lock", "warmup")
        self.repetition()

    def repetition(self) -> Rep:
        target = self.fresh("fact")
        clock = self.start_clock()
        wall, progress = self.stream(self.path("deliveries"), target, "lock", "day")
        _, cpu, jit, stages = self.stop_clock(clock)
        rows = self.r.n_meters * inputs.TICKS_PER_DAY
        facts = {
            "files_landed": len(glob.glob(os.path.join(target, "*", "*.parquet"))),
        }
        self.check_table("day", self.spark.read.parquet(target), self.r, range(1))
        self.check_quarantine("day", self.quarantined)
        return Rep(
            cycle_s=wall,
            rows=rows,
            busy_s=wall,
            batches_ms=[p["durationMs"]["triggerExecution"] for p in progress],
            cpu_s=cpu,
            jit_cpu_s=jit,
            stages=stages,
            progress=progress,
            facts=facts,
        )


class DailyCycle(Workload):
    """A manifest table holds the previous day; the next day's four-hour
    deliveries, carrying late readings of the previous day and
    redeliveries of readings that already landed, stream in through
    the manifest sink (two micro-batches), then both marts are rebuilt
    from the table."""

    name = "daily_cycle"
    METERS = 500
    LATE_SHARE = 0.03
    REDELIVER_SHARE = 0.02
    OLD_FILES_REDELIVERED = 1
    TICKS_PER_FILE = 16

    def generate(self) -> None:
        r = self.r = inputs.gen_readings(self.rng, self.METERS, 2)
        day0 = range(inputs.TICKS_PER_DAY)
        n0 = r.n_meters * inputs.TICKS_PER_DAY
        picks = self.rng.permutation(n0)
        n_late = int(self.LATE_SHARE * n0)
        late = {(int(k) % r.n_meters, int(k) // r.n_meters) for k in picks[:n_late]}
        redelivered = [
            (int(k) % r.n_meters, int(k) // r.n_meters)
            for k in picks[n_late : n_late + int(self.REDELIVER_SHARE * n0)]
        ]
        self.n_late = len(late)
        # the seed table: the previous day without its late readings
        seed = [
            line
            for t in day0
            for line in inputs.reading_lines(
                r, t, [m for m in range(r.n_meters) if (m, t) not in late]
            )
        ]
        inputs.write_deliveries(self.path("seed"), [seed])
        n_files = inputs.TICKS_PER_DAY // self.TICKS_PER_FILE
        extra: dict[int, list[str]] = {}
        for m, t in sorted(late) + redelivered:
            f = int(self.rng.integers(n_files))
            extra.setdefault(f, []).extend(inputs.reading_lines(r, t, [m]))
        files, _ = inputs.day_deliveries(
            self.rng, r, 1, ticks_per_file=self.TICKS_PER_FILE, redeliver_share=0.17,
            malformed_share=0.002, extra_lines=extra,
        )
        k = self.TICKS_PER_FILE
        for f in self.rng.choice(n_files, self.OLD_FILES_REDELIVERED, replace=False):
            old = [line for t in range(k * f, k * f + k) for line in inputs.reading_lines(r, t)]
            files.insert(int(self.rng.integers(len(files) + 1)), old)
        self.quarantined = inputs.quarantine_counts(files)
        inputs.write_deliveries(self.path("deliveries"), files)

    def setup(self) -> None:
        """Land the previous day through the batch ingest path: parse,
        classify, split, manifest append."""
        from smart_meter_data_pipeline_spark.sources.ingest import (
            classify,
            read_json_messages,
            split_valid,
        )
        from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable

        self.pristine = self.path("pristine")
        table = ManifestTable(self.pristine)
        valid, _ = split_valid(classify(read_json_messages(self.spark, self.path("seed"))))
        table.idempotent_append(self.spark, valid)
        self.n_seed_commits = len(table.numbered_snapshot())

    def repetition(self) -> Rep:
        from smart_meter_data_pipeline_spark.operators import meter_pipeline
        from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable

        target = self.fresh("fact")
        shutil.copytree(self.pristine, target)
        clock = self.start_clock()
        stream_s, progress = self.stream(self.path("deliveries"), target, "manifest", "day")
        billing, grid = meter_pipeline.build_all_marts(
            self.spark, ManifestTable(target).read(self.spark).select(*COLS), self.METERS
        )
        wall, cpu, jit, stages = self.stop_clock(clock)
        self.checks.op(True, "day: rebuild")
        table = ManifestTable(target)
        new = [c for _, c in table.numbered_snapshot()][self.n_seed_commits :]
        facts = {
            "commits": len(new),
            "files_added": sum(len(c["added"]) for c in new),
        }
        if self.tracer.enabled:
            facts["files_live"] = len(table.read(self.spark).inputFiles())
        self.check_table("day", table.read(self.spark), self.r, range(2))
        self.check_quarantine("day", self.quarantined)
        self.check_marts("day", billing, grid, self.r)
        rows = self.r.n_meters * inputs.TICKS_PER_DAY + self.n_late
        self.checks.equal("day: rows landed by the stream", sum(c["count"] for c in new), rows)
        return Rep(
            cycle_s=wall,
            rows=rows,
            busy_s=stream_s,
            batches_ms=[p["durationMs"]["triggerExecution"] for p in progress],
            cpu_s=cpu,
            jit_cpu_s=jit,
            stages=stages,
            progress=progress,
            facts=facts,
        )


WORKLOADS = {w.name: w for w in (IngestDay, DailyCycle)}
