"""Build the driver JVM's class-data-sharing archive (see ``session``).

``build_cds_archive`` takes a non-blocking lock beside the archive,
runs this module as a child process whose driver JVM writes every class
it loaded to a temporary file at exit (``-XX:ArchiveClassesAtExit``),
and publishes that file with ``os.replace``. The child's run (``train``)
is the package's own pipeline on a few generated meters: wire-JSON
deliveries, each with malformed messages and one of them delivered
twice, drain through ``start_ingest_stream`` into the lock sink and then
the manifest sink, and ``build_all_marts`` rebuilds both marts from each
table.

    python -m smart_meter_data_pipeline_spark cds-archive   # build now

``session.get_spark`` imports this module only when no archive file
exists; the pipeline's import closure does not hold it.
"""

from __future__ import annotations

import fcntl
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
from typing import Callable

from smart_meter_data_pipeline_spark.session import (
    CDS_DUMP_ENV,
    _cds_complete,
    cds_archive,
    get_spark,
)

BUILD_TIMEOUT_S = 900

METERS = 8
FILES = 6  # one hour each; the stream reads four files per micro-batch


def build_cds_archive(
    extra_conf: dict[str, str] | None = None, retry: bool = False
) -> tuple[str, str] | None:
    """``cds_archive(extra_conf)``, building the archive first if it is
    missing, or None when no complete archive results. An earlier failed
    build is repeated only with ``retry``, which also replaces an
    incomplete archive."""
    found = cds_archive(extra_conf)
    if found is None:
        return None
    archive, empty_conf = found
    if retry and not _cds_complete(archive):
        for path in (archive, archive + ".failed"):
            if os.path.exists(path):
                os.unlink(path)
    if not os.path.exists(archive) and not os.path.exists(archive + ".failed"):
        _publish_once(archive, lambda tmp: _dump_in_child(tmp, empty_conf, archive + ".log"))
    return found if _cds_complete(archive) else None


def _publish_once(archive: str, build: Callable[[str], bool]) -> bool:
    """Run ``build(tmp)`` under a non-blocking lock beside ``archive``
    and publish ``tmp`` with ``os.replace`` if it returns True. Returns
    whether ``archive`` exists afterwards: False when another process
    holds the lock, the cache cannot be written or the build fails
    (which leaves ``<archive>.failed``). Temp files that killed builds
    left are removed under the lock."""
    try:
        lock = open(archive + ".lock", "w")
    except OSError:
        return False
    with lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            return False
        if os.path.exists(archive):  # another builder just published it
            return True
        tmp = f"{archive}.{os.getpid()}.tmp"
        try:
            for stale in glob.glob(glob.escape(archive) + ".*.tmp"):
                os.unlink(stale)
            if build(tmp):
                os.replace(tmp, archive)
                return True
            open(archive + ".failed", "w").close()
            return False
        except OSError:
            return False
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)


def _dump_in_child(tmp: str, empty_conf: str, log_path: str) -> bool:
    """Run ``train`` in a child whose driver dumps its classes to
    ``tmp`` at exit, all its output going to ``log_path``; True if it
    left a complete archive. Kills the child's process group before
    returning, so no process of the build outlives it."""
    package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "SPARK_CONF_DIR": empty_conf,
        CDS_DUMP_ENV: tmp,
        "PYTHONPATH": os.pathsep.join(
            filter(None, [package_root, os.environ.get("PYTHONPATH")])
        ),
    }
    with open(log_path, "w") as log:
        child = subprocess.Popen(
            [sys.executable, "-m", "smart_meter_data_pipeline_spark.cds_build"],
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=subprocess.STDOUT,
            env=env,
            start_new_session=True,
        )
        try:
            ok = child.wait(timeout=BUILD_TIMEOUT_S) == 0
        except subprocess.TimeoutExpired:
            ok = False
        finally:
            try:
                os.killpg(child.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            child.wait()
    return ok and _cds_complete(tmp)


def write_deliveries(src: str) -> None:
    """``FILES`` delivery files: every meter read every 15 minutes with
    cumulative registers (production on even meters only), one malformed
    and one bad-status message per file, and the first file delivered
    again after the last."""
    os.makedirs(src)
    for f in range(FILES):
        lines = []
        for tick in range(4 * f, 4 * f + 4):
            ts = f"2024-01-01T{tick // 4:02d}:{15 * (tick % 4):02d}:00"
            for m in range(1, METERS + 1):
                msg = {
                    "meter_id": m,
                    "reading_timestamp": ts,
                    "reading_consumption_milliwatts": 250 * m * (tick + 1),
                    "status": "V",
                }
                if m % 2 == 0:
                    msg["reading_production_milliwatts"] = 40 * m * (tick + 1)
                lines.append(json.dumps(msg))
        lines += [
            "{broken json",
            json.dumps({"meter_id": 1, "reading_timestamp": ts, "status": "X"}),
        ]
        with open(os.path.join(src, f"d{f}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    shutil.copy(os.path.join(src, "d0.json"), os.path.join(src, f"d{FILES}.json"))


def train() -> None:
    """The training run; its driver dumps the archive as it exits."""
    # imported here: a process that only builds needs none of them
    from smart_meter_data_pipeline_spark.operators.meter_pipeline import (
        build_all_marts,
    )
    from smart_meter_data_pipeline_spark.sources.manifest import ManifestTable
    from smart_meter_data_pipeline_spark.streaming.ingest_stream import (
        SINKS,
        ProgressRecorder,
        start_ingest_stream,
    )

    work = tempfile.mkdtemp(prefix="smart_meter_cds_")
    spark = get_spark("smart-meter-cds-training")
    try:
        src = os.path.join(work, "deliveries")
        write_deliveries(src)
        spark.streams.addListener(ProgressRecorder())
        for sink in SINKS:
            target = os.path.join(work, sink)
            start_ingest_stream(
                spark,
                src,
                target,
                os.path.join(work, f"{sink}_checkpoint"),
                quarantine_target=os.path.join(work, f"{sink}_quarantine"),
                sink=sink,
            ).awaitTermination()
            readings = (
                ManifestTable(target).read(spark)
                if sink == "manifest"
                else spark.read.parquet(target)
            )
            for mart in build_all_marts(spark, readings, METERS):
                mart.collect()
    finally:
        # The JVM writes the archive as it exits: wait for it.
        gateway = spark.sparkContext._gateway
        proc = gateway.proc
        spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    train()
