"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_heap() -> str:
    """Driver heap default: half of physical RAM, clamped to [8g, 48g].

    In local mode the driver heap IS the executor heap; a fixed small
    default starves high-core runs — 32 concurrent Arrow-batched tasks
    each buffer page-byte batches, and an undersized heap turns the
    parse stage into a GC/GCLocker serial term (measured: heap OOM at
    8g/32 cores on the 2M-URL cycle). Cluster deployments size
    executors explicitly and never hit this path."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{min(max(gb // 2, 8), 48)}g"
    except OSError:
        pass
    return "8g"


def default_cores() -> int:
    """Task threads for ``local[N]`` when the caller names none:
    ``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on
    (its affinity mask — a container's share, not the host's count)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # platforms without affinity masks
        return os.cpu_count() or 1


def get_spark(app_name: str = "nutch-spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = cores
    b = (SparkSession.builder
         .appName(app_name)
         .master(f"local[{cores}]")
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         # metadata maps merge with put/overwrite semantics throughout
         # the reference (CrawlDatum.putAllMetaData, fetch-wins at
         # CrawlDbReducer.java:172-186) — LAST_WIN reproduces that for
         # map_concat overlays
         .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
         .config("spark.driver.memory",
                 os.environ.get("SPARK_DRIVER_MEMORY", _default_heap()))
         # Arrow transfer buffers for page-byte batches are ~2-4 MB —
         # humongous for G1's default region size at this heap, which
         # triggers GCLocker retry stalls across all 32 executor
         # threads (observed in the 32-core scaling runs). 32 MB
         # regions keep those allocations in the normal TLAB path.
         .config("spark.driver.extraJavaOptions",
                 os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:G1HeapRegionSize=32m"))
         # shuffle/spill to tmpfs when available: the container's
         # overlay filesystem serializes concurrent shuffle writes and
         # dominates wall-clock variance at high thread counts
         .config("spark.local.dir",
                 os.environ.get("SPARK_LOCAL_DIRS",
                                "/dev/shm/spark-local"
                                if os.path.isdir("/dev/shm") else
                                "/tmp"))
         # modest broadcast ceiling: small dims (robots, rules) always
         # fit; wide page/frontier tables must never flip to broadcast
         # on an optimistic size estimate
         .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
         .config("spark.ui.enabled", "false")
         # politeness partitions must not be coalesced mid-fetch; the
         # fetch stage repartitions explicitly and AQE keeps our
         # partition count because we use repartition(N, col)
         .config("spark.speculation", "false"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
