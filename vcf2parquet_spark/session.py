"""SparkSession factory with the engine's standard configuration.

Local-mode knobs follow the public Spark tuning guidance: shuffle
partitions ≈ cores (not the 200 default), AQE on (runtime coalescing +
skew-join splitting), Arrow enabled for the vectorized UDF kernels.
On a real cluster the same builder works — only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_HEAP_CAP = 24 << 30          # the driver heap never needs more than this
_WORKER_RESERVE = 512 << 20   # left free per core for its Python worker
_HEAP_FLOOR = 512 << 20


def mem_total_bytes() -> int:
    """Physical RAM (``MemTotal``); 0 when /proc/meminfo is unreadable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def default_driver_mem(mem_total: int, cores: int) -> str:
    """Driver heap for local mode, as a JVM size string: a third of
    the RAM left after one Python worker per core, capped at 24 GiB.
    The heap is pinned with ``-Xms``, so it must be committable up front;
    an unknown RAM size (``mem_total`` 0) gets the floor."""
    heap = min(_HEAP_CAP, (mem_total - cores * _WORKER_RESERVE) // 3)
    return f"{max(heap, _HEAP_FLOOR) >> 20}m"


def get_spark(cores: int | None = None, app_name: str = "vcf2parquet_spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)
    # Arrow buffers in Python workers come from glibc (retained via the
    # kernels' mallopt tuning) instead of jemalloc (which purges dirty
    # pages back to the OS — expensive to re-fault on slow-page-fault
    # hosts).  Must be set before any worker imports pyarrow; workers
    # inherit the driver env in local mode.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    mem = (os.environ.get("SPARK_DRIVER_MEM")
           or default_driver_mem(mem_total_bytes(), cores))
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # pin the heap: committed pages stay committed (no G1 uncommit →
        # no re-faulting of heap regions between jobs)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{mem} -XX:-ShrinkHeapInSteps")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # zstd shuffle: the encode shuffle moves the full corpus once;
        # zstd ~halves the moved bytes vs lz4 for code text at a CPU
        # cost that rides the (parallel) task path — the right trade
        # whenever the shuffle fabric, not CPU, is the scaling limit
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
