"""Smart-meter pipeline benchmark: one workload per run.

    python3 perfbench/run.py --workload ingest_day --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout on ``local[<nproc>]`` in one process.
Inputs are generated from ``--seed`` before the Spark session starts;
the workload then lands its seed tables and warms up with at least one
whole, checked repetition (together ``setup_s``), and repeats its timed
operation until ``--seconds`` would be exceeded (at least once),
checking every repetition's outputs. The last line of standard output
is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it carries the run context, the
wall-clock figures (rows/s, cycle and batch latency) and the raw
per-repetition numbers. Everything the run writes stays under
``.perfbench/`` in the checkout; traced runs leave their spans in
``.perfbench/out``. See perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "cpu_us_per_row": "us/row",
    "read_bytes_per_row": "B/row",
}


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, but
    never below the median; returns (value, percentile)."""
    s = sorted(values)
    i = max(len(s) - 11, len(s) // 2)
    return s[i], 100.0 * i / max(1, len(s) - 1)


def isolate(work: str) -> None:
    """Keep every file the run writes (Python and JVM temp files, Spark
    scratch space, the warehouse) inside ``work``; size Spark to the
    machine. Must run before pyspark is imported."""
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        # a fixed set of JIT compiler threads, so their CPU time can be
        # told apart (workloads.Stopwatch)
        " -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["TZ"] = "UTC"
    time.tzset()


def cpu_ticks() -> list[int]:
    """Machine-wide CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def jvm_rss_mb(proc) -> float:
    """Peak resident set of the Spark JVM so far."""
    with open(f"/proc/{proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the Spark JVM")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def end_to_end(setup_s: float, reps) -> tuple[dict, dict]:
    """The gated end-to-end metrics, and the wall-clock figures a user
    of the stream sees, which are reported beside them: on a shared
    host they move with other guests' load by more than any bound
    (see perfbench/README.md). With the batch counts these runs have,
    the highest percentile with ten batches beyond it is at or near
    the median."""
    batches = [b for r in reps for b in r.batches_ms]
    tail_ms, tail_pct = tail(batches)
    metrics = {
        "setup_s": setup_s,
        "cpu_us_per_row": statistics.median(1e6 * r.cpu_s / r.rows for r in reps),
        "read_bytes_per_row": statistics.median(
            r.stages["total"]["input_bytes"] / r.rows for r in reps
        ),
    }
    return metrics, {
        "rows_per_s": statistics.median(r.rows / r.busy_s for r in reps),
        "cycle_s": statistics.median(r.cycle_s for r in reps),
        "batch_p50_ms": statistics.median(batches),
        "batches": len(batches),
        "batch_tail_ms": tail_ms,
        "batch_tail_percentile": tail_pct,
    }


def layer_metrics(rep, spans, counters) -> dict[str, float]:
    """Per-layer numbers of one traced repetition."""
    from tracing import span_totals

    totals, self_s = span_totals(spans)
    stages = rep.stages
    groups = stages["groups"]

    def group(prefix: str, key: str) -> float:
        return sum(v[key] for g, v in groups.items() if g.startswith(prefix))

    progress = rep.progress
    duration = lambda key: [p["durationMs"].get(key, 0) for p in progress]  # noqa: E731
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    observed = [p["observedMetrics"].get("ingest", {}) for p in progress]
    quarantined = sum(o.get("rejected", 0) for o in observed)
    offered = sum(o.get("consumed", 0) for o in observed) - quarantined
    written = counters.get("rows_written", 0)
    m = {
        "streaming.ingest_stream.batches": len(progress),
        "streaming.ingest_stream.add_batch_ms_p50": med(duration("addBatch")),
        "streaming.ingest_stream.overhead_ms_p50": med(
            [p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
             for p in progress]
        ),
        "streaming.ingest_stream.query_planning_ms_p50": med(duration("queryPlanning")),
        "streaming.ingest_stream.wal_commit_ms_p50": med(duration("walCommit")),
        "streaming.ingest_stream.self_s": self_s.get("streaming.ingest_stream", 0.0),
        "sources.ingest.parse_classify_s": totals.get("sources.ingest.parse_classify", 0.0),
        "sources.ingest.idempotent_append_s": totals.get("sources.ingest.idempotent_append", 0.0),
        "sources.ingest.rows_offered": offered,
        "sources.ingest.rows_written": written,
        "sources.ingest.write_ratio": written / offered if offered else 0.0,
        "sources.ingest.rows_quarantined": quarantined,
        "sources.ingest.existing_keys_input_bytes": group(
            "sources.ingest.idempotent_append", "input_bytes"
        ),
        "sources.ingest.files_landed": rep.facts.get("files_landed", 0),
        "sources.ingest.self_s": self_s.get("sources.ingest", 0.0),
        "sources.txn.lock_wait_s": totals.get("sources.txn.lock_wait", 0.0),
        "sources.txn.lock_hold_s": counters.get("lock_hold_s", 0.0),
        "sources.manifest.idempotent_append_s": totals.get(
            "sources.manifest.idempotent_append", 0.0
        ),
        "sources.manifest.commits": rep.facts.get("commits", 0),
        "sources.manifest.commit_retries": counters.get("commit_retries", 0),
        "sources.manifest.files_added": rep.facts.get("files_added", 0),
        "sources.manifest.files_live": rep.facts.get("files_live", 0),
        "sources.manifest.validate_input_bytes": group(
            "sources.manifest.idempotent_append", "input_bytes"
        ),
        "sources.manifest.read_s": totals.get("sources.manifest.read", 0.0),
        "sources.manifest.self_s": self_s.get("sources.manifest", 0.0),
        "operators.meter_pipeline.stg_transform_s": totals.get(
            "operators.meter_pipeline.stg_transform", 0.0
        ),
        "operators.meter_pipeline.billing_s": totals.get("operators.meter_pipeline.billing", 0.0),
        "operators.meter_pipeline.grid_s": totals.get("operators.meter_pipeline.grid", 0.0),
        "operators.meter_pipeline.build_all_marts_s": totals.get(
            "operators.meter_pipeline.build_all_marts", 0.0
        ),
        "operators.meter_pipeline.shuffle_write_bytes": group(
            "operators.meter_pipeline", "shuffle_write_bytes"
        ),
        "operators.meter_pipeline.spill_bytes": group("operators.meter_pipeline", "spill_bytes"),
        "operators.meter_pipeline.self_s": self_s.get("operators.meter_pipeline", 0.0),
        "spark.jobs": stages["jobs"],
        "spark.jobs_per_batch": stages["jobs"] / max(1, len(rep.batches_ms)),
        "spark.codegen_compilations": stages["codegen_compilations"],
        "jvm.jit_cpu_s": rep.jit_cpu_s,
        "trace.cpu_us_per_row": 1e6 * rep.cpu_s / rep.rows,
        "trace.rows_per_s": rep.rows / rep.busy_s,
        "trace.cycle_s": rep.cycle_s,
    }
    for key in (
        "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
        "input_bytes", "output_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
        "spill_bytes",
    ):
        m[f"spark.{key}"] = stages["total"][key]
    return m


def unit_of(name: str) -> str:
    if name.endswith("_per_row"):
        return "us/row"
    if name.endswith("_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_ms", "_ms_p50")):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    return "ratio" if name.endswith("_ratio") else "count"


def main(argv: list[str] | None = None) -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail fast, before writing anything, outside a checkout of the repo
    if not os.path.isfile(os.path.join(ROOT, "smart_meter_data_pipeline_spark", "session.py")):
        print(f"no smart_meter_data_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    load_start = os.getloadavg()[0]
    ticks_start = cpu_ticks()

    from tracing import StageAccounting, Tracer

    from smart_meter_data_pipeline_spark.session import get_spark
    from workloads import WORKLOADS, Checks, cpu_seconds

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    checks = Checks()
    workload = WORKLOADS[args.workload](work, args.seed, None, checks)
    workload.generate()

    spark = None
    rss_mb = 0.0
    reps, layer_reps, spans_out = [], [], []
    context = {
        "nproc": os.cpu_count(),
        "cpus_available": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "seed": args.seed,
        "load_1m_start": load_start,
        "python": platform.python_version(),
    }
    try:
        t0 = time.perf_counter()
        before = os.times()
        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        session_s = time.perf_counter() - t0
        context["spark"] = spark.version
        context["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        tracer = Tracer(spark, enabled=bool(args.trace))
        tracer.install()
        workload.tracer = tracer
        workload.spark = spark
        workload.stages = StageAccounting(spark)
        workload.setup()
        workload.warmup()
        setup_wall_s = time.perf_counter() - t0
        cpu, jit = cpu_seconds(spark.sparkContext._gateway.proc.pid)
        setup_s = cpu - jit - before.user - before.system

        deadline = time.perf_counter() + args.seconds
        while True:
            rep_start = time.perf_counter()
            tracer.recording = True
            try:
                rep = workload.repetition()
            finally:
                tracer.recording = False
            reps.append(rep)
            if args.trace:
                spans, counters = tracer.take()
                spans_out.append(spans)
                layer_reps.append(layer_metrics(rep, spans, counters))
            took = time.perf_counter() - rep_start
            if time.perf_counter() + took > deadline:
                break
    except Exception:
        traceback.print_exc()
        checks.op(False, "run raised: " + traceback.format_exc(limit=1).strip())
    finally:
        if spark is not None:
            rss_mb = jvm_rss_mb(spark.sparkContext._gateway.proc)
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if not reps:
        print(json.dumps({"failed_checks": checks.failed}), file=sys.stderr)
        return 1
    e2e, wall = end_to_end(setup_s, reps)
    context["load_1m_end"] = os.getloadavg()[0]
    ticks = [b - a for a, b in zip(ticks_start, cpu_ticks())]
    # CPU time the hypervisor gave to other guests: a busy host shows here
    context["cpu_steal_pct"] = 100.0 * ticks[7] / max(1, sum(ticks))
    detail = dict(
        context=context,
        workload=args.workload,
        session_s=session_s,
        setup_wall_s=setup_wall_s,
        jvm_peak_rss_mb=rss_mb,
        wall=wall,
        failed_checks=checks.failed,
        failed_ops_frac=len(checks.failed) / checks.attempted,
        reps=[
            {"cycle_s": r.cycle_s, "rows": r.rows, "busy_s": r.busy_s,
             "cpu_s": r.cpu_s, "jit_cpu_s": r.jit_cpu_s,
             "input_bytes": r.stages["total"]["input_bytes"],
             "batches_ms": r.batches_ms, **r.facts}
            for r in reps
        ],
        total_s=time.perf_counter() - started,
    )
    if args.trace:
        metrics = {"session.get_spark_s": session_s}
        for name in layer_reps[0] if layer_reps else ():
            metrics[name] = statistics.median(m[name] for m in layer_reps)
        metrics["jvm.peak_rss_mb"] = rss_mb
        metrics["trace.batch_p50_ms"] = wall["batch_p50_ms"]
        units = {name: unit_of(name) for name in metrics}
        out_dir = os.path.join(base, "out")
        os.makedirs(out_dir, exist_ok=True)
        spans_file = os.path.join(out_dir, f"spans_{args.workload}_seed{args.seed}.json")
        with open(spans_file, "w") as fh:
            json.dump(spans_out, fh)
        detail["spans_file"] = os.path.relpath(spans_file, ROOT)
    else:
        metrics, units = e2e, END_TO_END
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": not checks.failed,
                "attempted": checks.attempted,
                "failed": len(checks.failed),
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
