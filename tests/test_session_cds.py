"""The driver JVM's class-data-sharing archive (``session.get_spark``).

The lock-and-publish step and the archive check run without a JVM.
The rest start a driver in a subprocess, each under its own
``XDG_CACHE_HOME``: one builds the archive through ``get_spark`` and
maps it, and the others show that a garbage, truncated or stale archive
and a conf dir with real files all start the driver as before. No CDS
line may reach the caller's stdout.
"""

from __future__ import annotations

import json
import os
import signal
import struct
import subprocess
import sys
import threading

import pytest

from smart_meter_data_pipeline_spark import cds_build, session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Starts a driver through get_spark with the caller's own java options
# (a system property and a class-load log) and prints what it saw.
_START = """
import json, os, sys
from smart_meter_data_pipeline_spark.session import get_spark

conf_dir = os.environ.get("SPARK_CONF_DIR")
spark = get_spark("cds-test", shuffle_partitions=2, extra_conf={
    "spark.driver.extraJavaOptions":
        "-Dsmart.meter.probe=1 -Xlog:class+load:file=" + sys.argv[1],
})
print(json.dumps({
    "sum": spark.range(1001).selectExpr("sum(id) AS s").first().s,
    "java_options": spark.conf.get("spark.driver.extraJavaOptions"),
    "probe": spark.sparkContext._jvm.System.getProperty("smart.meter.probe"),
    "custom": spark.conf.get("spark.smartmeter.custom", None),
    "conf_dir_kept": os.environ.get("SPARK_CONF_DIR") == conf_dir,
}))
gateway = spark.sparkContext._gateway
proc = gateway.proc
spark.stop()
gateway.shutdown()
proc.stdin.close()
proc.wait()
"""


def _start_driver(tmp_path, cache: str, conf_dir: str) -> tuple[dict, list, str]:
    """Run ``_START``; returns its report, its stdout lines, and where
    the driver loaded ``SparkContext`` from."""
    class_log = str(tmp_path / "class_load.log")
    env = {
        **os.environ,
        "PYTHONPATH": ROOT,
        "XDG_CACHE_HOME": cache,
        "SPARK_CONF_DIR": conf_dir,
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_GRAFT_CPUS": "2",
    }
    out = subprocess.run(
        [sys.executable, "-c", _START, class_log],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    with open(class_log) as fh:
        source = next(
            line.split(" source: ")[1].strip()
            for line in fh
            if " org.apache.spark.SparkContext source: " in line
        )
    return json.loads(lines[-1]), lines, source


def _templates_only(tmp_path) -> str:
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("# spark.master\n")
    return str(conf_dir)


def _fake_archive(path: str, size: int = 4096) -> None:
    """A file with a JDK 17 dynamic archive header whose one region
    ends at byte ``size``."""
    head = struct.pack("<IiI4x", session._CDS_MAGIC, 0, session._CDS_VERSION)
    region = struct.pack("<6i3Q", 0, 1, 0, 0, 0, 1, 1024, 0, size - 1024)
    with open(path, "wb") as fh:
        fh.write((head + region).ljust(size, b"\0"))


def _builds_left_running(cache: str) -> list[int]:
    """Pids of processes still carrying a dump path under ``cache``."""
    needle = f"{session.CDS_DUMP_ENV}={cache}".encode()
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as fh:
                if needle in fh.read():
                    pids.append(int(pid))
        except OSError:
            pass
    return pids


def test_archive_check_rejects_truncated_and_garbage_files(tmp_path):
    """JDK 17 maps a truncated archive and dies of SIGBUS, so only an
    archive whose header regions all lie inside the file is used."""
    whole = str(tmp_path / "whole.jsa")
    _fake_archive(whole)
    assert session._cds_complete(whole)
    truncated = str(tmp_path / "truncated.jsa")
    with open(whole, "rb") as src, open(truncated, "wb") as dst:
        dst.write(src.read(4000))
    garbage = tmp_path / "garbage.jsa"
    garbage.write_bytes(os.urandom(4096))
    assert not session._cds_complete(truncated)
    assert not session._cds_complete(str(garbage))
    assert not session._cds_complete(str(tmp_path / "missing.jsa"))


def test_one_of_two_concurrent_builders_builds(tmp_path, monkeypatch):
    """While one builder holds the lock, a second start gets no archive
    at once and builds nothing; the first publishes its archive."""
    monkeypatch.setenv("SPARK_CONF_DIR", _templates_only(tmp_path))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    archive, _ = session.cds_archive()
    building, release = threading.Event(), threading.Event()
    calls = []

    def slow_train(tmp, empty_conf, log_path):
        calls.append(tmp)
        building.set()
        assert release.wait(60)
        _fake_archive(tmp)
        return True

    monkeypatch.setattr(cds_build, "_dump_in_child", slow_train)
    first = {}
    thread = threading.Thread(
        target=lambda: first.setdefault("found", cds_build.build_cds_archive())
    )
    thread.start()
    try:
        assert building.wait(60)
        assert cds_build.build_cds_archive() is None
        assert not os.path.exists(archive)
    finally:
        release.set()
        thread.join(60)
    assert first["found"] == (archive, os.path.join(os.path.dirname(archive), "conf"))
    assert len(calls) == 1 and session._cds_complete(archive)
    assert cds_build.build_cds_archive() == first["found"]
    assert len(calls) == 1


def test_killed_build_leaves_a_temp_file_the_next_build_removes(tmp_path):
    archive = str(tmp_path / "driver.jsa")
    dies = (
        "import os, signal\n"
        "from smart_meter_data_pipeline_spark import cds_build\n"
        "def build(tmp):\n"
        "    open(tmp, 'wb').write(b'half an archive')\n"
        "    os.kill(os.getpid(), signal.SIGKILL)\n"
        f"cds_build._publish_once({archive!r}, build)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", dies],
        env={**os.environ, "PYTHONPATH": ROOT},
        timeout=300,
    )
    assert out.returncode == -signal.SIGKILL
    left = set(os.listdir(tmp_path)) - {"driver.jsa.lock"}
    assert len(left) == 1 and left.pop().endswith(".tmp")

    def build(tmp):
        _fake_archive(tmp)
        return True

    assert cds_build._publish_once(archive, build)
    assert sorted(os.listdir(tmp_path)) == ["driver.jsa", "driver.jsa.lock"]
    assert session._cds_complete(archive)


def test_failed_build_is_not_repeated_until_retry(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", _templates_only(tmp_path))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    archive, _ = session.cds_archive()
    calls = []

    def failing_train(tmp, empty_conf, log_path):
        calls.append(tmp)
        return False

    monkeypatch.setattr(cds_build, "_dump_in_child", failing_train)
    assert cds_build.build_cds_archive() is None
    assert os.path.exists(archive + ".failed") and not os.path.exists(archive)
    assert cds_build.build_cds_archive() is None
    assert len(calls) == 1
    assert cds_build.build_cds_archive(retry=True) is None
    assert len(calls) == 2


def test_cli_cds_archive_reports_the_archive_or_fails(tmp_path, monkeypatch, capsys):
    from smart_meter_data_pipeline_spark.__main__ import main

    monkeypatch.setenv("SPARK_CONF_DIR", _templates_only(tmp_path))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    archive, _ = session.cds_archive()
    _fake_archive(archive)
    assert main(["cds-archive"]) == 0
    assert json.loads(capsys.readouterr().out) == {"archive": archive, "bytes": 4096}
    (tmp_path / "conf" / "spark-defaults.conf").write_text("spark.smartmeter.custom  on\n")
    assert main(["cds-archive"]) == 1


def test_conf_dir_with_real_files_keeps_the_plain_start(tmp_path):
    """A real spark-defaults.conf still applies, and the driver does
    not use an archive (JDK 17 would refuse the non-empty conf dir on
    the classpath)."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.smartmeter.custom  on\n")
    cache = str(tmp_path / "cache")
    report, stdout, source = _start_driver(tmp_path, cache, str(conf_dir))
    assert report["custom"] == "on"
    assert report["sum"] == 500500
    assert "SharedArchiveFile" not in report["java_options"]
    assert "shared objects file" not in source
    assert report["conf_dir_kept"]
    assert not os.path.exists(os.path.join(cache, "smart_meter_data_pipeline_spark"))


@pytest.mark.parametrize("kind", ["garbage", "truncated", "stale"])
def test_unusable_archive_falls_back_to_the_plain_start(tmp_path, monkeypatch, kind):
    """An archive at the key path that cannot be used starts the driver
    without it and builds nothing. Garbage and truncated files never
    reach the JVM; a stale archive (dumped with another classpath) does,
    and ``-Xshare:auto`` falls back. Either way no CDS line is printed
    on stdout."""
    cache = str(tmp_path / "cache")
    conf_dir = _templates_only(tmp_path)
    monkeypatch.setenv("XDG_CACHE_HOME", cache)
    monkeypatch.setenv("SPARK_CONF_DIR", conf_dir)
    monkeypatch.delenv("JAVA_TOOL_OPTIONS", raising=False)
    archive, _ = session.cds_archive()
    if kind == "garbage":
        with open(archive, "wb") as fh:
            fh.write(os.urandom(1 << 20))
    else:
        other = tmp_path / "other_classpath"
        other.mkdir()
        subprocess.run(
            ["java", f"-XX:ArchiveClassesAtExit={archive}", "-cp", str(other), "-version"],
            capture_output=True,
            check=True,
            timeout=300,
        )
        assert session._cds_complete(archive)
        if kind == "truncated":
            os.chmod(archive, 0o644)
            os.truncate(archive, os.path.getsize(archive) // 2)

    report, stdout, source = _start_driver(tmp_path, cache, conf_dir)
    assert report["sum"] == 500500
    assert report["probe"] == "1"
    assert "shared objects file (top)" not in source
    assert ("SharedArchiveFile" in report["java_options"]) == (kind == "stale")
    assert not [line for line in stdout if "[cds" in line]
    assert sorted(os.listdir(os.path.dirname(archive))) == ["conf", os.path.basename(archive)]


@pytest.fixture(scope="module")
def built_start(tmp_path_factory):
    """A driver started through get_spark with an empty cache and a
    templates-only conf dir: it builds the archive, then maps it."""
    tmp_path = tmp_path_factory.mktemp("cds_build")
    cache = str(tmp_path / "cache")
    report, stdout, source = _start_driver(tmp_path, cache, _templates_only(tmp_path))
    cds_dir = os.path.join(cache, "smart_meter_data_pipeline_spark", "cds")
    archives = [os.path.join(cds_dir, n) for n in os.listdir(cds_dir) if n.endswith(".jsa")]
    assert len(archives) == 1
    return cache, archives[0], report, stdout, source


def test_first_start_builds_the_archive_and_maps_it(built_start):
    cache, archive, report, stdout, source = built_start
    cds_dir = os.path.dirname(archive)
    assert session._cds_complete(archive)
    assert source == "shared objects file (top)"
    assert report["sum"] == 500500
    # the build's own CDS warnings went to its log, not to stdout
    with open(archive + ".log") as fh:
        assert "[cds]" in fh.read()
    assert not [line for line in stdout if "[cds" in line]
    assert report["conf_dir_kept"]
    assert _builds_left_running(cache) == []
    name = os.path.basename(archive)
    assert sorted(os.listdir(cds_dir)) == ["conf", name, name + ".lock", name + ".log"]


def test_caller_java_options_are_appended_to_the_archive_flags(built_start):
    """A caller's spark.driver.extraJavaOptions no longer replaces the
    builder's: both the archive flags and the caller's options reach
    the driver JVM."""
    _, archive, report, _, source = built_start
    flags, caller = report["java_options"].split(" -Dsmart.meter.probe=1 ")
    assert flags == f"-XX:SharedArchiveFile={archive} {session._CDS_FLAGS}"
    assert caller.startswith("-Xlog:class+load:file=")
    assert report["probe"] == "1"
    assert source == "shared objects file (top)"
