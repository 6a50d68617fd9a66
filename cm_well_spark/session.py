"""SparkSession factory tuned for the engine.

Local-mode knobs follow the public Spark tuning guidance; on a real cluster
the same config (AQE on, sensible shuffle partitions, Arrow enabled) is what
we'd ship — only memory/partition counts change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_HEAP_CAP = 24 << 30


def host_memory() -> int:
    """Bytes this process may use: MemTotal, or the cgroup limit when one
    is set below it."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw))
    return total


def driver_memory() -> str:
    """spark.driver.memory (and the -Xms floor): CMW_DRIVER_MEM when set,
    else half the host's memory, capped at 24g."""
    return os.environ.get("CMW_DRIVER_MEM") or f"{min(host_memory() // 2, _HEAP_CAP) >> 20}m"


def get_spark(app_name: str = "cm_well_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    heap = driver_memory()
    shuffle = shuffle_partitions or int(os.environ.get("CMW_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", heap)
        # pin the heap floor to the ceiling, and keep the heap RIGHT-SIZED
        # (r11): this VM faults anonymous memory at only ~120 MB/s
        # (measured: -XX:+AlwaysPreTouch of 48 GB = 391 s), so every NEW
        # heap page a query touches is a kernel-time tax — observed as
        # 65-96% sys time and a 4-9x wall blowup on repeated sf1
        # iterative queries (pagerank 219-314 s vs 22-38 s once the heap
        # stopped wandering). -Xms pins the floor so G1 never uncommits
        # and re-faults; the heap is half the host's memory, at most 24g
        # (plenty for every measured op, including the sf1 clustering
        # compact), so the JVM can always commit it.
        .config("spark.driver.extraJavaOptions", os.environ.get("CMW_DRIVER_XOPTS", f"-Xms{heap}"))
        .config("spark.ui.enabled", "false")
        # PySpark's per-call call-site capture (on by default in 4.x):
        # before every pyspark.sql.functions call it reads a conf, walks
        # the Python stack and sets and clears the origin on the JVM —
        # extra py4j round trips on every call of a query's driver-side
        # build. Off, Spark errors keep their error class and message but
        # lose the Python file:line in their DataFrame context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # a parquet TIMESTAMP(NANOS) column reads as long instead of
        # failing the read (the test tables store microseconds, and
        # sources/tables.py declares their schemas)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # literal key lists (plans/keyset, up to LITERAL_MAX = 256
        # values) exceed the default threshold (10), which silently
        # drops the parquet row-group pushdown for them.
        # Evaluating a few hundred min/max containment checks per row
        # group is nanoseconds against the MBs of decode it skips.
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
        # past 32 directories Spark lists a table's partitions in a job
        # of its own, on every read: the triples table has one directory
        # per predicate (46 at sf0.001). In this local-mode session the
        # driver lists a few hundred directories in milliseconds.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # single-JVM local mode: a long full-GC pause during a heavy
        # clustering shuffle can starve the in-process heartbeat thread —
        # observed killing an sf1 compact with "unable to send heartbeats
        # to driver more than 60 times" (r10). Wider heartbeat/network
        # windows are the standard guidance and equally ship-safe on a
        # real cluster.
        .config("spark.executor.heartbeatInterval", "60s")
        .config("spark.network.timeout", "600s")
    )
    # arbitrary config overrides for experiments / deployment tuning:
    # CMW_EXTRA_CONF="spark.a=b;spark.c=d" (set before the first
    # getOrCreate — a live session keeps its original conf)
    extra = os.environ.get("CMW_EXTRA_CONF", "")
    for kv in extra.split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
