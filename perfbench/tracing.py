"""Traced mode: spans around calls into the pipeline's layers, and
Spark's own stage accounting grouped by the layer that ran each job.

Tracing wraps public entry points of each layer from here, by
replacing the module or class attribute the caller looks up at call
time; the program's files are not touched. While a span is open its
name is set as the Spark job group (the ``spark.jobGroup.id`` local
property of the JVM thread that submits the jobs), so every stage can
be attributed to the innermost layer call that ran it. Spans are kept
in memory and written to a file when the run ends.

Some layer functions only build a lazy plan (``stg_transform``, the
two ``fact_*`` marts); their work runs when the caller materializes
the result. The wrappers time that materialization instead: the mart's
``localCheckpoint`` and the staging table's ``persist`` followed by a
``count`` (which the first mart would otherwise trigger). Parse and
classify likewise run when the micro-batch is first computed, so the
``split_valid`` wrapper counts the persisted batch before splitting it.
Each such forced action adds one small job per call, which is part of
the tracing overhead the benchmark reports.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict

LAYERS = (
    "streaming.ingest_stream",
    "sources.ingest",
    "sources.txn",
    "sources.manifest",
    "operators.meter_pipeline",
)


class Tracer:
    """Spans (name, start, end, parent) and layer counters for the
    timed repetitions. Disabled tracers install nothing."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.recording = False
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main_thread = threading.get_ident()
        self._lock = threading.Lock()

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main_thread:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span and tag the Spark jobs it submits with its
        name. Spans opened on a streaming callback thread take the
        innermost span open on the main thread as parent."""
        if not self.recording:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        sc = self.spark.sparkContext
        previous_group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", name)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                {"name": name, "start": time.perf_counter(), "end": None,
                 "parent": parent}
            )
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx]["end"] = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", previous_group)

    def count(self, name: str, value: float) -> None:
        if self.recording:
            with self._lock:
                self.counters[name] += value

    def take(self) -> tuple[list[dict], dict[str, float]]:
        """Spans and counters recorded since the last call."""
        with self._lock:
            spans, counters = self.spans, dict(self.counters)
            self.spans, self.counters = [], defaultdict(float)
        return spans, counters

    # -- wrapping the layers -----------------------------------------------

    def install(self) -> None:
        """Wrap the layers for the rest of the process."""
        if not self.enabled:
            return
        from smart_meter_data_pipeline_spark.operators import meter_pipeline
        from smart_meter_data_pipeline_spark.sources import manifest, txn
        from smart_meter_data_pipeline_spark.streaming import ingest_stream

        tracer = self
        split_valid = ingest_stream.split_valid
        lock_append = ingest_stream.idempotent_append
        table_lock = txn.table_lock
        put_if_absent = manifest._put_if_absent
        manifest_append = manifest.ManifestTable.idempotent_append
        manifest_read = manifest.ManifestTable.read
        build_all_marts = meter_pipeline.build_all_marts
        stg_transform = meter_pipeline.stg_transform
        billing = meter_pipeline.fact_customer_billing_daily
        grid = meter_pipeline.fact_grid_load_hourly

        def traced_split_valid(classified):
            with tracer.span("sources.ingest.parse_classify"):
                classified.count()
            return split_valid(classified)

        def traced_lock_append(spark, batch, target):
            with tracer.span("sources.ingest.idempotent_append"):
                n = lock_append(spark, batch, target)
            tracer.count("rows_written", n)
            return n

        @contextlib.contextmanager
        def traced_table_lock(table_dir, *args, **kwargs):
            held = contextlib.ExitStack()
            with tracer.span("sources.txn.lock_wait"):
                path = held.enter_context(table_lock(table_dir, *args, **kwargs))
            start = time.perf_counter()
            try:
                with held:
                    yield path
            finally:
                tracer.count("lock_hold_s", time.perf_counter() - start)

        def traced_put_if_absent(path, payload):
            won = put_if_absent(path, payload)
            if not won:
                tracer.count("commit_retries", 1)
            return won

        def traced_manifest_append(table, spark, batch, *args, **kwargs):
            with tracer.span("sources.manifest.idempotent_append"):
                n = manifest_append(table, spark, batch, *args, **kwargs)
            tracer.count("rows_written", n)
            return n

        def traced_manifest_read(table, spark, *args, **kwargs):
            with tracer.span("sources.manifest.read"):
                return manifest_read(table, spark, *args, **kwargs)

        def traced_build_all_marts(spark, readings, n_meters):
            with tracer.span("operators.meter_pipeline.build_all_marts"):
                return build_all_marts(spark, readings, n_meters)

        def timed_action(df, method: str, name: str, then=None):
            """Run ``df.<method>`` (and ``then`` on its result) inside
            span ``name`` the first time the caller invokes it."""
            original = getattr(df, method)

            def run(*args, **kwargs):
                with tracer.span(name):
                    out = original(*args, **kwargs)
                    if then is not None:
                        then(out)
                return out

            setattr(df, method, run)
            return df

        def traced_stg_transform(readings):
            stg = stg_transform(readings)
            select = stg.select

            def select_then_materialize(*cols):
                return timed_action(
                    select(*cols), "persist",
                    "operators.meter_pipeline.stg_transform",
                    then=lambda df: df.count(),
                )

            stg.select = select_then_materialize
            return stg

        def traced_billing(*args):
            return timed_action(
                billing(*args), "localCheckpoint",
                "operators.meter_pipeline.billing",
            )

        def traced_grid(*args):
            return timed_action(
                grid(*args), "localCheckpoint", "operators.meter_pipeline.grid"
            )

        for owner, attr, wrapper in (
            (ingest_stream, "split_valid", traced_split_valid),
            (ingest_stream, "idempotent_append", traced_lock_append),
            (txn, "table_lock", traced_table_lock),
            (manifest, "_put_if_absent", traced_put_if_absent),
            (manifest.ManifestTable, "idempotent_append", traced_manifest_append),
            (manifest.ManifestTable, "read", traced_manifest_read),
            (meter_pipeline, "build_all_marts", traced_build_all_marts),
            (meter_pipeline, "stg_transform", traced_stg_transform),
            (meter_pipeline, "fact_customer_billing_daily", traced_billing),
            (meter_pipeline, "fact_grid_load_hourly", traced_grid),
        ):
            setattr(owner, attr, wrapper)


def span_totals(spans: list[dict]) -> tuple[dict[str, float], dict[str, float]]:
    """(total seconds per span name, self seconds per layer). A span's
    self time is its duration minus the part of it its children
    cover; a layer's self time sums its spans'."""
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children[s["parent"]].append(i)
    totals: dict[str, float] = defaultdict(float)
    self_s: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        if s["end"] is None:
            continue
        totals[s["name"]] += s["end"] - s["start"]
        covered, cursor = 0.0, s["start"]
        kids = sorted(
            (spans[k]["start"], spans[k]["end"] or s["end"]) for k in children[i]
        )
        for start, end in kids:
            start, end = max(start, cursor), min(end, s["end"])
            if end > start:
                covered += end - start
                cursor = end
        layer = next((l for l in LAYERS if s["name"].startswith(l + ".")), None)
        if layer:
            self_s[layer] += s["end"] - s["start"] - covered
    return dict(totals), dict(self_s)


class StageAccounting:
    """Spark's per-stage task metrics from the application status store
    (populated with the UI off), read through the JVM as JSON."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self._store = self.sc._jsc.sc().statusStore()
        self._empty = jvm.java.util.ArrayList
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        # one count per Java class Spark generated and compiled
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.last_job = self._jobs_since(-1)[1]
        self.last_codegen = self._codegen.getCount()

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def _jobs_since(self, last_job: int) -> tuple[list[dict], int]:
        jobs = json.loads(
            self._mapper.writeValueAsString(self._store.jobsList(self._empty()))
        )
        new = [j for j in jobs if j["jobId"] > last_job]
        return new, max([last_job] + [j["jobId"] for j in jobs])

    def take(self) -> dict:
        """Per-group and total stage metrics of the jobs that ran since
        the last call, and the classes generated since then."""
        self._drain()
        jobs, self.last_job = self._jobs_since(self.last_job)
        codegen = self._codegen.getCount()
        compiled, self.last_codegen = codegen - self.last_codegen, codegen
        stages = {
            s["stageId"]: s
            for s in json.loads(
                self._mapper.writeValueAsString(
                    self._store.stageList(
                        self._empty(), False, False, self._no_quantiles, self._empty()
                    )
                )
            )
            if s["status"] == "COMPLETE"
        }
        groups: dict[str, set[int]] = defaultdict(set)
        all_stages: set[int] = set()
        for j in jobs:
            ids = {i for i in j["stageIds"] if i in stages}
            groups[j.get("jobGroup") or ""] |= ids
            all_stages |= ids

        def total(ids: set[int]) -> dict[str, float]:
            picked = [stages[i] for i in ids]
            return {
                "stages": len(picked),
                "tasks": sum(s["numCompleteTasks"] for s in picked),
                "executor_run_s": sum(s["executorRunTime"] for s in picked) / 1e3,
                "executor_cpu_s": sum(s["executorCpuTime"] for s in picked) / 1e9,
                "jvm_gc_s": sum(s["jvmGcTime"] for s in picked) / 1e3,
                "input_bytes": sum(s["inputBytes"] for s in picked),
                "output_bytes": sum(s["outputBytes"] for s in picked),
                "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in picked),
                "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in picked),
                "spill_bytes": sum(
                    s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in picked
                ),
            }

        return {
            "jobs": len(jobs),
            "codegen_compilations": compiled,
            "total": total(all_stages),
            "groups": {g: total(ids) for g, ids in groups.items()},
        }
