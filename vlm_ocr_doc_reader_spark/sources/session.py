"""SparkSession factory with scale-oriented defaults.

AQE on (runtime partition coalescing + skew-join splitting), Arrow on (all
our UDFs are pandas/Arrow batched — never row-at-a-time Python), broadcast
threshold left at default so small dims broadcast automatically.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap when the caller sets none: a quarter of RAM, between 1
    and 8 GiB, so a local-mode driver leaves the rest to the Python workers
    and the page cache instead of claiming more heap than the host has."""
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return f"{max(1024, min(total_mb // 4, 8192))}m"
    raise RuntimeError(f"{meminfo} has no MemTotal line")


def session_conf(shuffle_partitions: int | None = None,
                 extra_conf: dict | None = None,
                 meminfo: str = "/proc/meminfo") -> dict:
    """The settings ``get_spark`` applies: the defaults below, then
    ``extra_conf``; the driver heap is derived from ``meminfo`` only when
    neither sets it."""
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
        "spark.sql.session.timeZone": "UTC",
        # X3 retry analog (ocr_client.py:261-345 3-attempt backoff): Spark
        # task-level retries replace app-level retry for deterministic UDFs
        "spark.task.maxFailures": "4",
        # at 100 TB: keep scan splits bounded so a partition fits in memory
        "spark.sql.files.maxPartitionBytes": "134217728",
    }
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    if "spark.driver.memory" not in conf:
        conf["spark.driver.memory"] = default_driver_memory(meminfo)
    return conf


def get_spark(master: str | None = None,
              app_name: str = "vlm-ocr-doc-reader-spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    for k, v in session_conf(shuffle_partitions, extra_conf).items():
        b = b.config(k, v)
    return b.getOrCreate()
