"""SparkSession factory with scale-appropriate defaults.

Local test profile runs on ``local[N]``; the same config block is what we
would ship to a 1000-executor cluster, with the local-only knobs
(driver memory) swapped for executor sizing. Every setting is chosen for
the 100 TB design point:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast demotion/promotion — the mechanism that keeps one static
  ``shuffle.partitions`` choice safe across 0.001×–1000× data sizes.
- UTC session timezone: the reference stores TIMESTAMPTZ and emits UTC
  ISO-8601 (producer/meter_simulator.py:161,246); day/hour bucketing
  must not drift with the host timezone.
- Arrow enabled: every Python-boundary transfer (createDataFrame,
  toPandas, pandas UDFs) is columnar-batched.
- Generated-code cache sized to the pipeline, so each generated class
  is compiled once per JVM: a daily cycle (stream, manifest sink, both
  marts) with its seed landing and output checks touches about 128
  cache entries, and Spark's default cache of 100 would evict and
  recompile most of them every cycle. The cap is 1000, not unbounded:
  ``arrived_at`` is a per-micro-batch literal, so a running stream adds
  one class per micro-batch. A static conf: it holds only if
  ``get_spark`` starts the JVM's first session.
- Driver JVM started from a class-data-sharing archive: most of a short
  local driver's start is loading Spark's classes, which a JDK 17
  dynamic CDS archive maps ready-parsed (``-Xshare:auto``). It lives in
  ``$XDG_CACHE_HOME/smart_meter_data_pipeline_spark/cds/`` (by default
  ``~/.cache``), named by a key of file stats only: the JDK's home and
  ``libjvm.so``, Spark's ``jars/`` listing and the driver classpath.
  The first start without one builds it (``cds_build``, imported only
  then; CLI ``cds-archive``): a child runs the pipeline on generated
  data under ``-XX:ArchiveClassesAtExit``, logging beside the archive.
  A failed build, a build in another process, an
  unwritable cache, or an incomplete or stale archive all give the
  plain start. JDK 17 refuses a non-empty directory on the classpath,
  so the archive is used only when the conf dir (``SPARK_CONF_DIR``,
  else ``$SPARK_HOME/conf``) holds nothing but ``*.template`` files;
  the driver then starts with an empty conf dir beside the archive.
  CDS log lines go to stderr, never to the caller's stdout.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import struct

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Set in the training child: its driver dumps the archive to this path.
CDS_DUMP_ENV = "SMART_METER_CDS_DUMP"
# Runtime flags after the archive path; CDS warnings leave stdout,
# which callers (a benchmark's result lines, say) share with the JVM.
_CDS_FLAGS = "-Xshare:auto -Xlog:cds*=off:stdout -Xlog:cds*=warning:stderr"
# JDK 17 dynamic archive header: magic, crc, version, then 7 regions
# of 72 bytes, each with its file offset and used size at bytes 24, 40.
_CDS_MAGIC, _CDS_VERSION, _CDS_REGIONS = 0xF00BABA8, 11, 7


def cds_archive(extra_conf: dict[str, str] | None = None) -> tuple[str, str] | None:
    """(archive path, empty conf dir) for a driver started with
    ``extra_conf`` from this JDK and Spark, or None when that start
    cannot use an archive. Reads file stats only; creates the conf dir."""
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    java = (
        os.path.join(os.environ["JAVA_HOME"], "bin", "java")
        if os.environ.get("JAVA_HOME")
        else shutil.which("java")
    )
    if java is None:
        return None
    java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "smart_meter_data_pipeline_spark",
        "cds",
    )
    empty_conf = os.path.join(cache, "conf")
    jars = os.path.join(spark_home, "jars")
    try:
        if os.path.isdir(conf_dir) and any(
            not name.endswith(".template") for name in os.listdir(conf_dir)
        ):
            return None
        with open(os.path.join(java_home, "release")) as fh:
            if not re.search(r'^JAVA_VERSION="17\b', fh.read(), re.M):
                return None
        stats = [
            (path, st.st_size, st.st_mtime_ns)
            for path in [os.path.join(java_home, "lib", "server", "libjvm.so")]
            + [os.path.join(jars, name) for name in os.listdir(jars)]
            for st in [os.stat(path)]
        ]
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return None
    except OSError:
        return None
    classpath = [empty_conf, jars, (extra_conf or {}).get("spark.driver.extraClassPath")]
    classpath += [
        os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
    ]
    key = hashlib.sha256(repr([java_home, stats, classpath]).encode()).hexdigest()
    archive = os.path.join(cache, f"driver-{key[:16]}.jsa")
    # the JVM flags are split on whitespace, the classpath on ':'
    return None if re.search(r"[\s\"'\\:]", archive) else (archive, empty_conf)


def _cds_complete(path: str) -> bool:
    """Whether ``path`` holds a whole JDK 17 dynamic archive: every
    region its header names lies inside the file. JDK 17 maps a
    truncated archive and dies of SIGBUS instead of falling back."""
    try:
        with open(path, "rb") as fh:
            head = fh.read(16 + 72 * _CDS_REGIONS)
            size = os.fstat(fh.fileno()).st_size
        magic, _, version = struct.unpack_from("<IiI", head)
        end = max(
            sum(struct.unpack_from("<Q8xQ", head, 16 + 72 * i + 24))
            for i in range(_CDS_REGIONS)
        )
    except (OSError, struct.error):
        return False
    return (magic, version) == (_CDS_MAGIC, _CDS_VERSION) and 0 < end <= size


def get_spark(
    app_name: str = "smart_meter_data_pipeline_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    Static confs (the warehouse dir, the codegen cache size) take
    effect only when this call creates the JVM's first session; a call
    that reuses a running session keeps the values it started with.
    A ``spark.driver.extraJavaOptions`` in ``extra_conf`` is appended
    to the class-data-sharing flags (see the module docstring)."""
    conf = dict(extra_conf or {})
    cds_flags, conf_dir = "", None  # conf_dir: the driver's SPARK_CONF_DIR
    if os.environ.get(CDS_DUMP_ENV):  # the training child of cds_build
        cds_flags = f"-XX:ArchiveClassesAtExit={os.environ[CDS_DUMP_ENV]}"
    elif SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        found = cds_archive(conf)
        if found is not None and not os.path.exists(found[0]):
            from smart_meter_data_pipeline_spark.cds_build import build_cds_archive

            found = build_cds_archive(conf)
        if found is not None and _cds_complete(found[0]):
            cds_flags = f"-XX:SharedArchiveFile={found[0]} {_CDS_FLAGS}"
            conf_dir = found[1]
    java_options = [cds_flags, conf.get("spark.driver.extraJavaOptions", "")]
    if any(java_options):
        conf["spark.driver.extraJavaOptions"] = " ".join(filter(None, java_options))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver's testdata stores events.ts as TIMESTAMP(NANOS),
        # which the vectorized parquet reader rejects; read it as long
        # (nanos since epoch) and convert in sources.readers.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # INT96 timestamps carry no footer stats (kills the manifest's
        # time-range file skipping); write INT64 micros instead.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        # Catalog tables (bucketed layouts) go to a temp warehouse —
        # static conf, so it must be set before the first session.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/smart_meter_warehouse"
            ),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Static conf (see the module docstring). Spark's codegen cache
        # evicts in LRU order; the daily cycle's working set is about 128
        # entries, over the default 100. Bounded, because each
        # micro-batch inlines its own ``arrived_at`` timestamp and so
        # adds one class for as long as the stream runs.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for key, value in conf.items():
        builder = builder.config(key, value)
    saved = os.environ.get("SPARK_CONF_DIR")
    if conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if conf_dir is not None:  # the launch has read it; restore
            os.environ.pop("SPARK_CONF_DIR")
            if saved is not None:
                os.environ["SPARK_CONF_DIR"] = saved
    spark.sparkContext.setLogLevel("WARN")
    return spark
