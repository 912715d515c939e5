"""SparkSession factory tuned for the quality-filter workload.

Scale notes (100 TB / 1000-executor design stance):
- AQE on: runtime coalescing + skew-join splitting replaces hand-tuned
  shuffle partition counts when input volume varies 1000x between runs.
- Arrow enabled and batch size raised so pandas-UDF model scoring amortizes
  per-batch overhead (broadcast model init per executor, not per batch).
- UTC session timezone pinned so results compare bit-for-bit against
  engines with UTC-naive timestamps (DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "baselinr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # defaults fit the host: the cores this process may run on (what
    # `nproc` reports) and half its physical RAM, capped at 16g
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    # match shuffle partitions to the master's cores (this host's when it
    # names none, e.g. local[*]); AQE coalesces from there at run time
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = max(8, cpus if n == "*" else int(n))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY") or f"{min(16 << 10, ram_mb // 2)}m"

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # the 16g cap was measured at local[32], where one JVM runs 32
        # concurrent tasks and an 8g heap GC-stalls the UDF stage
        # (transform 9.3s -> 7.0s at 100k docs when raised). On a real
        # cluster this is per-executor spark.executor.memory, sized by
        # the resource manager instead.
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # open-cost models per-file seek overhead when packing scan
        # splits. The 4 MB default FLOORS the split size (maxSplitBytes =
        # max(openCost, bytes/minPartitionNum) when under
        # maxPartitionBytes), so a single-file table smaller than
        # 4 MB x cores scans with a fraction of the available slots —
        # measured 1-2 tasks for the small profiling tables. 512 KB is a
        # truer seek model on local SSD/page cache and leaves large-file
        # layouts untouched (their bytes/minPartitionNum dominates).
        # Override per deployment via SPARK_GRAFT_OPEN_COST_BYTES.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", str(512 * 1024)),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
