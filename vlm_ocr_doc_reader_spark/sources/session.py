"""SparkSession factory with scale-oriented defaults.

AQE on (runtime partition coalescing + skew-join splitting), Arrow on (all
our UDFs are pandas/Arrow batched — never row-at-a-time Python), broadcast
threshold left at default so small dims broadcast automatically.
Local masters start their Python workers through ``_pydaemon``, which
imports the installed, compiled pyspark instead of recompiling
SPARK_HOME's ``pyspark.zip`` at every session start.
"""

from __future__ import annotations

import os
import re

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

from .. import _pydaemon

_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


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
                 meminfo: str = "/proc/meminfo",
                 master: str | None = None) -> dict:
    """The settings ``get_spark`` applies: the defaults below, then
    ``extra_conf``; the driver heap is derived from ``meminfo`` only when
    neither sets it.  For a ``local[...]`` master the Python worker daemon
    is ``_pydaemon``, and the package root is appended to the workers'
    PYTHONPATH so they can import it; other masters keep Spark's daemon."""
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # let AQE size the partitions of a persisted frame from its data:
        # otherwise a cached plan keeps spark.sql.shuffle.partitions (200)
        # output partitions, and every stage and write downstream of a
        # persist runs that many tasks whatever the data's size
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
        "spark.sql.session.timeZone": "UTC",
        # ANSI SQL (Spark 4's default), pinned so an environment that turns
        # it off cannot change arithmetic and casts: the operators are
        # written to never raise under it (e.g. similarity's try_divide
        # cosine), and their outputs are tested with it on
        "spark.sql.ansi.enabled": "true",
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
    if (master is not None and _LOCAL_MASTER.fullmatch(master)
            and "spark.python.daemon.module" not in conf):
        conf["spark.python.daemon.module"] = _pydaemon.__name__
        root = os.path.dirname(os.path.dirname(
            os.path.abspath(_pydaemon.__file__)))
        key = "spark.executorEnv.PYTHONPATH"
        paths = [p for p in conf.get(key, "").split(os.pathsep) if p]
        if root not in paths:
            conf[key] = os.pathsep.join(paths + [root])
    return conf


def resolve_master(master: str | None, conf: dict) -> str | None:
    """The master a session built from ``master`` and ``conf`` runs on.

    A ``spark.master`` in ``conf`` wins, as it does in ``get_spark``'s
    builder, then ``master``.  With neither, the master is the one the JVM
    gateway starts with (spark-submit's default is ``local[*]``), so the
    gateway is started here, with ``conf`` as its launch settings, exactly
    as ``getOrCreate`` would start it."""
    known = conf.get("spark.master") or master
    if known:
        return known
    launch = SparkConf()
    for k, v in conf.items():
        launch.set(k, v)
    SparkContext._ensure_initialized(conf=launch)
    return SparkConf().get("spark.master")


def get_spark(master: str | None = None,
              app_name: str = "vlm-ocr-doc-reader-spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    master = resolve_master(master, session_conf(shuffle_partitions,
                                                 extra_conf))
    for k, v in session_conf(shuffle_partitions, extra_conf,
                             master=master).items():
        b = b.config(k, v)
    return b.getOrCreate()
