"""SparkSession factory tuned for local[N] testing but configured the way a
large cluster deployment would be (AQE on, sane shuffle partitioning, Arrow).

On a real 1000-executor cluster the same builder applies; only master/memory
change. Shuffle partitions default to the local core count — at cluster scale
set ``spark.sql.shuffle.partitions`` to ~2-3x total cores or rely on AQE
coalescing, which is enabled here.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def _shuffle_partitions() -> str:
    """Post-shuffle partition count: ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` if
    set, else the core count. The override exists for callers whose
    workload shape is known up front (the test suite runs hundreds of
    tiny-data jobs where per-task scheduling overhead dominates; a cluster
    deployment would set ~2-3x total cores); the default keeps the
    bench/driver behaviour unchanged."""
    return os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or (
        os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    )


def _driver_memory() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` if set (deployment override),
    else 60% of the smaller of MemAvailable and the cgroup limit, within
    [1g, 64g] — a fixed heap larger than the machine grows until the
    kernel OOM-kills the JVM; the other 40% covers off-heap and Python."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    limits = [os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")]
    for path in (
        "/proc/meminfo",
        "/sys/fs/cgroup/memory.max",  # cgroup v2
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ):
        try:
            with open(path) as fh:
                text = fh.read()
        except OSError:
            continue
        avail = re.search(r"^MemAvailable:\s+(\d+) kB", text, re.M)
        if avail:
            limits.append(int(avail.group(1)) << 10)
        elif text.strip().isdigit():  # a cgroup limit; v2 writes "max" for none
            limits.append(int(text))
    return f"{min(64 << 10, max(1 << 10, int(min(limits) * 0.6) >> 20))}m"


def get_spark(app_name: str = "air-traffic-engine") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", _shuffle_partitions())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # test lake writes nanosecond parquet timestamps; read them as long
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally created session.

    The driver harness builds its own SparkSession; every query entrypoint
    funnels through here so results don't depend on who built the session.
    Only runtime-mutable confs are touched.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        # a foreign (driver-built) session keeps the 200 default: wrong for
        # local mode; AQE coalescing makes this safe to lower at scale too
        ("spark.sql.shuffle.partitions", _shuffle_partitions()),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark
