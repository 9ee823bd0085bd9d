import pytest

from vlm_ocr_doc_reader_spark.sources.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="tests",
                  shuffle_partitions=8,
                  extra_conf={"spark.ui.enabled": "false",
                              "spark.driver.memory": "4g"})
    yield s
    s.stop()


@pytest.fixture
def jobs_started(spark):
    """``with jobs_started() as ids:`` fills ``ids`` with the Spark jobs
    started inside the block: a fresh job group, read through
    ``statusTracker`` once the listener bus has delivered every event."""
    import contextlib
    import uuid

    sc = spark.sparkContext

    @contextlib.contextmanager
    def counting():
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        ids: list[int] = []
        try:
            yield ids
        finally:
            sc._jsc.clearJobGroup()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids.extend(sorted(sc.statusTracker().getJobIdsForGroup(group)))

    return counting
