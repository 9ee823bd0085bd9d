"""Session defaults: the driver heap fits the host unless the caller sets
it (a fixed 16g overcommits a 15 GB machine), and local masters start
their Python workers through the package's daemon module."""

import json
import os
import subprocess
import sys
import textwrap

import pytest

from vlm_ocr_doc_reader_spark import _pydaemon
from vlm_ocr_doc_reader_spark.sources.session import (default_driver_memory,
                                                      resolve_master,
                                                      session_conf)

PACKAGE_ROOT = os.path.dirname(os.path.dirname(
    os.path.abspath(_pydaemon.__file__)))


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\n"
                 "MemFree:         1000 kB\n")
    return str(p)


@pytest.mark.parametrize("total_gib, want", [
    (15, f"{15 * 1024 // 4}m"),   # a quarter of RAM
    (2, "1024m"),                 # never below 1 GiB
    (64, "8192m"),                # never above 8 GiB
])
def test_driver_memory_default_is_quarter_of_ram_clamped(tmp_path,
                                                         total_gib, want):
    info = _meminfo(tmp_path, total_gib * 1024 * 1024)
    assert default_driver_memory(info) == want
    assert session_conf(meminfo=info)["spark.driver.memory"] == want


def test_driver_memory_caller_override_wins(tmp_path):
    info = _meminfo(tmp_path, 15 * 1024 * 1024)
    conf = session_conf(extra_conf={"spark.driver.memory": "4g"},
                        meminfo=info)
    assert conf["spark.driver.memory"] == "4g"


def test_meminfo_without_total_fails_loudly(tmp_path):
    p = tmp_path / "meminfo"
    p.write_text("MemFree: 1000 kB\n")
    with pytest.raises(RuntimeError):
        default_driver_memory(str(p))


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]",
                                    "local[2,3]"])
def test_local_masters_start_workers_through_pydaemon(tmp_path, master):
    conf = session_conf(master=master,
                        meminfo=_meminfo(tmp_path, 15 * 1024 * 1024))
    assert conf["spark.python.daemon.module"] == _pydaemon.__name__
    paths = conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep)
    assert paths == [PACKAGE_ROOT]


@pytest.mark.parametrize("master", [None, "yarn", "spark://h:7077",
                                    "local-cluster[2,1,1024]", "k8s://h"])
def test_other_masters_keep_sparks_daemon(tmp_path, master):
    conf = session_conf(master=master,
                        meminfo=_meminfo(tmp_path, 15 * 1024 * 1024))
    assert "spark.python.daemon.module" not in conf
    assert "spark.executorEnv.PYTHONPATH" not in conf


def test_caller_worker_pythonpath_is_kept(tmp_path):
    info = _meminfo(tmp_path, 15 * 1024 * 1024)
    mine = os.pathsep.join(["/srv/a", "/srv/b"])
    conf = session_conf(master="local[2]", meminfo=info,
                        extra_conf={"spark.executorEnv.PYTHONPATH": mine})
    assert conf["spark.executorEnv.PYTHONPATH"] == \
        os.pathsep.join(["/srv/a", "/srv/b", PACKAGE_ROOT])
    # the root is not added twice
    conf = session_conf(master="local[2]", meminfo=info,
                        extra_conf={"spark.executorEnv.PYTHONPATH":
                                    PACKAGE_ROOT})
    assert conf["spark.executorEnv.PYTHONPATH"] == PACKAGE_ROOT
    # a caller's own daemon module wins, and its path is left alone
    conf = session_conf(master="local[2]", meminfo=info,
                        extra_conf={"spark.python.daemon.module": "mine",
                                    "spark.executorEnv.PYTHONPATH": mine})
    assert conf["spark.python.daemon.module"] == "mine"
    assert conf["spark.executorEnv.PYTHONPATH"] == mine


def test_ansi_is_pinned_on_and_a_caller_value_wins(tmp_path, spark):
    """ANSI mode is an explicit default (Spark 4's own), so an environment
    that turns it off cannot change the operators' arithmetic; a caller's
    value still wins, as for every other setting."""
    info = _meminfo(tmp_path, 15 * 1024 * 1024)
    assert session_conf(meminfo=info)["spark.sql.ansi.enabled"] == "true"
    conf = session_conf(extra_conf={"spark.sql.ansi.enabled": "false"},
                        meminfo=info)
    assert conf["spark.sql.ansi.enabled"] == "false"
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_write_after_a_persisted_aggregate_follows_the_data(tmp_path,
                                                           spark):
    """A persisted frame's partitioning is AQE's to size: at the default
    200 shuffle partitions, a write downstream of a persisted aggregate
    of 1000 groups makes at most one file per core, not one per shuffle
    partition."""
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    info = _meminfo(tmp_path, 15 * 1024 * 1024)
    assert session_conf(meminfo=info)[key] == "true"
    assert spark.conf.get(key) == "true"
    import pyspark.sql.functions as F
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    agg = None
    try:
        agg = (spark.range(0, 20000)
               .groupBy((F.col("id") % 1000).alias("k")).count().persist())
        assert agg.count() == 1000
        out = str(tmp_path / "out")
        agg.write.parquet(out)
    finally:
        if agg is not None:
            agg.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert 1 <= len(files) <= spark.sparkContext.defaultParallelism


def test_resolve_master_follows_the_builder():
    # the builder applies extra_conf after .master(), so spark.master wins
    assert resolve_master("local[2]", {"spark.master": "yarn"}) == "yarn"
    assert resolve_master("local[2]", {}) == "local[2]"
    assert resolve_master(None, {"spark.master": "local[3]"}) == "local[3]"


def test_no_master_session_starts_workers_through_pydaemon():
    """``cli`` passes no master unless ``--master`` is given; spark-submit
    then runs ``local[*]``, so a fresh process's session must still start
    its workers through the daemon module and import compiled pyspark (and
    runs with ANSI on)."""
    script = textwrap.dedent("""
        import json
        import pyarrow as pa
        from vlm_ocr_doc_reader_spark.sources.session import get_spark

        def where(batches):
            import pyspark
            for b in batches:
                yield pa.RecordBatch.from_pydict(
                    {"file": [pyspark.__file__] * b.num_rows})

        spark = get_spark(extra_conf={"spark.ui.enabled": "false",
                                      "spark.driver.memory": "1g"})
        conf = spark.sparkContext.getConf()
        files = sorted({r["file"] for r in spark.range(2, numPartitions=1)
                        .mapInArrow(where, "file string").collect()})
        print(json.dumps([spark.sparkContext.master,
                          conf.get("spark.python.daemon.module"), files,
                          spark.conf.get("spark.sql.ansi.enabled")]))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_SUBMIT_ARGS", "MASTER")}
    out = subprocess.run([sys.executable, "-c", script], cwd=PACKAGE_ROOT,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    master, module, files, ansi = json.loads(
        out.stdout.strip().splitlines()[-1])
    assert ansi == "true"
    assert master == "local[*]"
    assert module == _pydaemon.__name__
    assert files and not any(".zip" in f for f in files), files


def test_session_workers_import_compiled_pyspark(spark):
    """The test session is local: its workers import pyspark from the
    installed package, not from SPARK_HOME's pyspark.zip."""
    import pyarrow as pa

    def where(batches):
        import pyspark
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"file": [pyspark.__file__] * b.num_rows})

    files = {r["file"] for r in spark.range(4, numPartitions=2)
             .mapInArrow(where, "file string").collect()}
    assert files and not any(".zip" in f for f in files), files
