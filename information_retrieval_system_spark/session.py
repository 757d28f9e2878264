"""SparkSession factory with scale-oriented defaults.

Runs ``local[N]`` in one JVM; the conf below is nevertheless written for
a 1000-executor cluster: AQE on (runtime coalescing + skew-join
splitting), Arrow enabled for every pandas UDF boundary, and shuffle
partitions sized explicitly rather than left at the 200 default.

Defaults are sized to the host the process runs on: ``N`` is the number
of CPUs this process may run on (``SPARK_GRAFT_CPUS`` overrides it) and
the driver heap is a quarter of physical memory (``SPARK_DRIVER_MEM``
overrides it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``orderBy(...).limit(k)`` plans as TakeOrderedAndProject below this k,
#: and Spark's per-partition ``takeOrdered`` then allocates a k-sized
#: priority queue up front — ``limit(10**9)`` ("every match") exhausts
#: the heap.  Every ranked k a caller uses is far below this (top-20
#: interactive, <= 1000 per TREC run); larger k runs as sort + limit.
TOPK_SORT_FALLBACK_THRESHOLD = 100_000


def default_driver_memory() -> str:
    """A quarter of physical memory, in MiB (>= 1 GiB): leaves room for
    the JVM's off-heap use, the Python workers and the driver process."""
    phys_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, phys_mib // 4)}m"


def get_spark(
    app_name: str = "information-retrieval-system-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS")
                          or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = max(parallelism, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{parallelism}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # single-JVM local mode: the "cluster memory" IS the driver heap;
        # a heap larger than the host lets the kernel OOM-kill the JVM
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.sql.execution.topKSortFallbackThreshold",
                str(TOPK_SORT_FALLBACK_THRESHOLD))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # a shared host may overcommit CPU (hypervisor steal + other
        # JVMs); under a long starvation window the local-mode executor
        # can miss 60 consecutive 10s heartbeats to its own driver and
        # self-terminate mid-suite.  Longer interval + network timeout
        # ride out the stall; on a real cluster these are the same knobs
        # used for GC-heavy executors.
        .config("spark.executor.heartbeatInterval", "30s")
        .config("spark.network.timeout", "600s")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
