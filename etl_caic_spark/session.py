"""SparkSession factory.

Single place where engine-level knobs are set (SURVEY.md §4.2): AQE on,
shuffle partitions sized for the scale factor, UTC session timezone (so the
DuckDB oracle's naive-UTC timestamps agree), Arrow for pandas interchange.

On a real cluster the same builder is used with ``master`` left to the
submitter; locally we default to ``local[$SPARK_GRAFT_CPUS]``. Unset, the
session fits the host it runs on: the cores in the process's affinity
mask and half of the machine's memory (``default_cpus`` /
``default_driver_mem``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_mem() -> str:
    """$SPARK_GRAFT_DRIVER_MEM, else half of MemTotal: in local mode one
    JVM heap is driver and executors, and the other half stays for the
    Python workers, the page cache and the OS."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(total // 2**21, 1024)}m"


def get_spark(
    app_name: str = "etl-caic-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        # local mode: ~cores, not the 200 default (right-sized for test SFs;
        # at 100 TB this is instead set to ~2-3x total cluster cores and AQE
        # coalesces the tail).
        shuffle_partitions = max(cpus, 4)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Lower the coalesce floor: AQE's post-shuffle coalescing targets
        # bytes, so a compute-heavy stage over a few MB of shuffle data
        # (shingle explodes, per-bit aggregates, vector self-joins) gets
        # merged into ONE task and serializes. 64KB keeps such stages at
        # ~cluster parallelism; at production shuffle sizes the floor is
        # never the binding constraint, so this is inert at 100 TB.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Coalesced tiny stages otherwise stall in the scheduler's 3s/level
        # locality wait (measured: a 2-row coalesce(1) noop write took 5.5s
        # vs 0.55s). In local mode every task is process-local so the wait
        # buys nothing; on a real cluster with homogeneous storage-attached
        # executors 0 is also the common production setting.
        .config("spark.locality.wait", "0")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Single-JVM local mode: driver heap IS executor heap, sized from
        # the host so the bench run stays out of GC pressure as
        # checkpoint/shuffle blocks from successive queries await cleanup.
        .config("spark.driver.memory", default_driver_mem())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
