"""SparkSession factory.

It sets only confs whose value differs from pyspark's own on local[N]:
shuffle partitions sized to the cores, Arrow for every Python-boundary
crossing with 1024-row batches, UTC session time zone (oracle
comparisons), a driver heap that fits the machine, no UI or console
progress bar, and the join-strategy choices below. AQE (with partition
coalescing and skew-join splitting), the runtime bloom filter and
spark.default.parallelism = N are Spark's defaults and are not restated.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """A quarter of physical RAM, between 1g and 48g. In local mode every
    task runs inside the driver JVM, and a heap ceiling above the machine's
    RAM lets the JVM grow until the kernel's OOM killer ends it (a 48g
    ceiling on a 16 GB host reached ~15 GB RSS in the crawl tests)."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return f"{max(1024, min(48 * 1024, ram_mb // 4))}m"


def get_spark(
    app_name: str = "webscraper_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    task_cpus: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local parallelism; defaults to $SPARK_GRAFT_CPUS or all cores.
    shuffle_partitions: defaults to cores (local mode: ~1 partition/core —
    the 200 default over-parallelizes small data and under-parallelizes big).
    task_cpus: spark.task.cpus. Crawl sessions set 2: every fetch+extract
    task really occupies TWO cores (a JVM thread feeding Arrow batches and a
    Python UDF worker), and declaring that stops the scheduler from running
    2x more tasks than the machine has cores — measured 3x wall-clock on the
    wave job at local[32] (124s -> 42s at sf0.4). The same declaration is
    what you'd ship on a real cluster for a Python-UDF-bound pipeline.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow everywhere Python touches data.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 1024-row Arrow batches: at ~3KB/page a batch is ~3MB — resident in
        # LLC while ~40 regex passes sweep it. 4096-row batches (~12MB)
        # thrash the cache and hammer the (shared, saturating) memory bus:
        # measured on the sf0.4 crawl, local[8]: 50.4s @4096 -> 42.8s @1024;
        # 512 (45.4s) and 16384 (52.1s) are both worse. Batch size is a
        # per-core-cache constant, not a data-scale knob — 1024 holds at
        # 100TB too.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # Deterministic timestamps for oracle comparison (duckdb is UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # Local mode: the driver is the only JVM; give it the memory the
        # machine has to spare.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _driver_memory())
        .config("spark.ui.enabled", "false")
        # The progress bar's carriage-return output lands in front of log
        # lines whenever stdout and stderr share a file.
        .config("spark.ui.showConsoleProgress", "false")
        # Broadcast only genuinely small sides: large broadcast builds are
        # single-threaded on the driver and scale with data — the seen-set
        # anti-joins must shuffle (parallel) instead once they grow.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        # Hash join over sort-merge where possible: wave joins are
        # equi-joins on url with no useful ordering; sorting page rows is
        # wasted work.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    if task_cpus is not None:
        builder = builder.config("spark.task.cpus", str(task_cpus))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
