"""SparkSession factory tuned for the engine.

Local mode for tests/bench (``local[N]``, one JVM); the same builder settings
apply unchanged on a multi-executor cluster via ``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """The driver heap when ``SPARK_DRIVER_MEMORY`` is unset: a quarter of
    physical memory, at least 2g and at most 48g, so a session fits on a
    small host and a large one is not capped below what it can hold."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = min(48 << 10, max(2 << 10, total // 4 >> 20))
    return f"{mb}m"


def get_spark(
    app_name: str = "akf_cdparser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Defaults follow the scale playbook: AQE on (runtime re-planning, skew-join
    handling, partition coalescing), Arrow on (every Python-side kernel is a
    vectorized pandas UDF — no per-row Python anywhere), shuffle partitions
    sized to the actual parallelism instead of the 200 default.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
    cores = 32 if n == "*" else int(n.split(",")[0])
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # a read of more than 32 directories (a bucketed index) lists them in
        # a Spark job: one task per core, not the default one per directory
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
                str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY")
                or _default_driver_memory())
        # FAIR root scheduling: the crawl engine pipelines background state
        # writes against the next generation's compute. The mode alone only
        # enables fair sharing BETWEEN pools — the engine's writer threads
        # tag their jobs with spark.scheduler.pool=crawl_background
        # (CrawlEngine._submit_bg), so write jobs and critical-path stages
        # sit in separate fair-shared pools instead of one FIFO default.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-Dlog4j2.level=error")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
