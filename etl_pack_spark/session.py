"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` (one JVM); the configs are chosen so
the same session builder is correct on a multi-executor cluster:
AQE handles runtime coalescing / skew splitting, shuffle partitions are
sized to cores locally (a cluster deployment overrides via
``spark.sql.shuffle.partitions`` or relies on AQE coalescing), and Arrow
is enabled for every pandas-UDF exchange.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession


def driver_memory(env: Mapping[str, str], meminfo: str) -> str:
    """The ``spark.driver.memory`` a session gets: ``SPARK_GRAFT_DRIVER_MEM``
    when set, else a quarter of the box's ``MemTotal`` (``meminfo`` is
    the text of ``/proc/meminfo``), between 1 GiB and 48 GiB. A local
    session's driver JVM is the whole engine, and a heap larger than
    the box lets it grow until the machine, not Spark, runs out. 48g
    when the text names no ``MemTotal`` (no ``/proc``)."""
    if env.get("SPARK_GRAFT_DRIVER_MEM"):
        return env["SPARK_GRAFT_DRIVER_MEM"]
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            mib = int(line.split()[1]) // 1024
            return f"{min(48 * 1024, max(1024, mib // 4))}m"
    return "48g"


def _meminfo() -> str:
    try:
        with open("/proc/meminfo") as fh:
            return fh.read()
    except OSError:
        return ""


def get_spark(
    app_name: str = "etl_pack_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``SPARK_GRAFT_CPUS`` (driver contract) sizes local parallelism;
    on a real cluster ``master`` comes from spark-submit and the
    local[] fallback is ignored. The driver heap follows
    :func:`driver_memory`.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic broadcast conversion — the knobs that make one logical
        # plan survive a 100x scale-up without retuning.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # read TIMESTAMP(NANOS) parquet (events fixture) as long nanos;
        # sources.reader rebuilds a proper timestamp column from it
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory(os.environ, _meminfo()))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
