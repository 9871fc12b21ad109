"""SparkSession factory with scale-oriented defaults.

Parity: the reference builds a bare session and relies on deployment conf
for AQE/shuffle tuning (``core/IngestionRunner.scala:38-41``,
``helm/values.yaml:59-61``). Here the engine owns those defaults so every
entry point (tests, bench, pipeline runner) gets the same scale posture:

- AQE on (runtime re-plan, partition coalescing, skew-join splitting);
- broadcast threshold generous enough that dimension tables broadcast;
- Arrow enabled for the pandas-UDF paths;
- shuffle partitions sized for the local core count by default, and meant
  to be raised (e.g. 2-3x total executor cores) on a real cluster;
- on a ``local`` master, the ``file:`` scheme is served by the bundled
  ``lakehouse.fs`` FileSystem (``jvm/``). Without libhadoop, Hadoop's
  stock local FS forks ``chmod`` for every file and directory it creates
  and ``readlink`` for every FileContext rename; the bundled one makes the
  same calls through NIO and otherwise behaves as the default local FS
  (checksums, rename, listing, the output committer). Other schemes, and
  JVMs launched without the jar, are untouched.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession

LOCALFS_JAR = Path(__file__).resolve().parent / "jvm" / "lakehouse-localfs.jar"
_LOCALFS_CONF = {
    "spark.hadoop.fs.file.impl": "lakehouse.fs.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "lakehouse.fs.NioLocalFs",
}
_LOCAL_MASTER = re.compile(r"local(?:\[(\d+|\*)(?:\s*,\s*\d+)?\])?")


@dataclass
class SparkConfig:
    """Tunable knobs; defaults target local[*] testing but every knob is the
    one you would turn on a 1000-executor cluster."""

    app_name: str = "lakehouse-ingestion-spark"
    master: str | None = None  # None -> respect spark.master env / local[*]
    shuffle_partitions: int | None = None  # None -> 2x default parallelism
    max_partition_bytes: str = "128m"  # parquet split target
    broadcast_threshold: str = "64m"  # dims up to this size broadcast
    ansi: bool = True
    session_timezone: str = "UTC"
    ui_enabled: bool = False
    extra: dict = field(default_factory=dict)


def master_cores(master: str) -> int:
    """Task slots of a local master: N for ``local[N]`` and ``local[N,F]``, 1
    for ``local``; for ``local[*]`` and any other master, the CPUs this
    process may run on."""
    m = _LOCAL_MASTER.fullmatch(master)
    if m and m.group(1) != "*":
        return int(m.group(1) or 1)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 8


def _localfs_loads() -> bool:
    """Whether the JVM this session runs in can load the bundled FileSystem:
    yes if the session launches it (with the jar on its classpath), else ask
    the running one, which may have been launched without the jar."""
    if SparkContext._gateway is None:
        if "PYSPARK_GATEWAY_PORT" not in os.environ:
            return True
        SparkContext._ensure_initialized()  # connect to the JVM that launched us
    return SparkContext._jvm.org.apache.spark.util.Utils.classIsLoadable(
        _LOCALFS_CONF["spark.hadoop.fs.file.impl"]
    )


def get_spark(cfg: SparkConfig | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession."""
    cfg = cfg or SparkConfig()
    master = cfg.master or os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    b = SparkSession.builder.appName(cfg.app_name).master(master)

    # --- scale posture -----------------------------------------------------
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", cfg.broadcast_threshold)
        .config("spark.sql.files.maxPartitionBytes", cfg.max_partition_bytes)
        .config("spark.sql.parquet.filterPushdown", "true")
        # read parquet TIMESTAMP(NANOS) as long (Spark has no nanos type);
        # callers convert via timestamp_micros(ns div 1000)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", cfg.session_timezone)
        .config("spark.sql.ansi.enabled", str(cfg.ansi).lower())
        .config("spark.ui.enabled", str(cfg.ui_enabled).lower())
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # reused Arrow workers keep their PEAK rss forever (glibc never
        # returns it); a worker that once held a large matmul tile or
        # Arrow batch pins that memory for the session. Reap workers
        # idle >5 min so long-lived sessions shed those peaks (the
        # sf10 full-registry run was OOM-killed by exactly this before
        # the operators were tiled; this is the engine-wide backstop)
        .config("spark.python.worker.idleTimeoutSeconds", "300")
        .config("spark.python.worker.killOnIdleTimeout", "true")
    )
    if cfg.shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
    else:
        # local heuristic: 2x cores; on a cluster, set explicitly via extra
        b = b.config("spark.sql.shuffle.partitions", str(min(2 * master_cores(master), 64)))
    extra = dict(cfg.extra)
    # executors of a local master share the driver's JVM and classpath
    if _LOCAL_MASTER.fullmatch(master) and _localfs_loads():
        cp = extra.get("spark.driver.extraClassPath")
        extra["spark.driver.extraClassPath"] = f"{cp}{os.pathsep}{LOCALFS_JAR}" if cp else LOCALFS_JAR
        extra = {**_LOCALFS_CONF, **extra}
    for k, v in extra.items():
        b = b.config(k, str(v))

    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
