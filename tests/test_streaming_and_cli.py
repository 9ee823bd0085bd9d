"""Structured-Streaming incremental mode + CLI arg parsing."""

import os

import pytest

from vlm_ocr_doc_reader_spark.cli import parse_axes_arg, parse_pages_arg
from vlm_ocr_doc_reader_spark.fixtures.generate import (
    generate_documents, write_documents_parquet)
from vlm_ocr_doc_reader_spark.plans.extract import extract
from vlm_ocr_doc_reader_spark.streaming.incremental import run_incremental

# subprocesses import the package from the checkout under test
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_parse_pages_arg():
    assert parse_pages_arg("1,2,5-7") == [1, 2, 5, 6, 7]
    assert parse_pages_arg("3") == [3]
    assert parse_pages_arg("2-2,1") == [1, 2]
    with pytest.raises(ValueError):
        parse_pages_arg("7-5")
    with pytest.raises(ValueError):
        parse_pages_arg("0")


def test_parse_axes_arg():
    assert parse_axes_arg("1,3,5") == (1, 3, 5)
    with pytest.raises(ValueError):
        parse_axes_arg("0,1")


def test_incremental_stream_equals_batch(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    docs_a = generate_documents(25, seed=3, mega_spans=200,
                                include_edge=False)
    docs_b = generate_documents(40, seed=3, mega_spans=200,
                                include_edge=False)[25:]
    import os
    os.makedirs(in_dir)
    write_documents_parquet(docs_a, f"{in_dir}/part_a.parquet")

    run_incremental(spark, in_dir, out_dir, state, ckpt)
    got1 = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert len(got1) == 25

    # second file lands; availableNow picks up ONLY the new file
    write_documents_parquet(docs_b, f"{in_dir}/part_b.parquet")
    run_incremental(spark, in_dir, out_dir, state, ckpt)

    streamed = {r["doc_id"]: r["spans"]
                for r in spark.read.parquet(out_dir).collect()}
    assert len(streamed) == 40

    batch = {r["doc_id"]: r["spans"]
             for r in extract(spark.read.parquet(in_dir)).collect()}
    assert streamed == batch


def test_incremental_mega_doc_route_releases_cache(spark, tmp_path):
    """Leak check: a micro-batch holding mega docs leaves no cached frame
    behind, or a long-running stream would keep one more per such batch.
    Mega docs are where a persisted intermediate would be costliest."""
    import os

    from vlm_ocr_doc_reader_spark.datapipe.cache import (
        outstanding_cached, release_all_cached)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    write_documents_parquet(
        generate_documents(20, seed=5, mega_spans=300, include_edge=False),
        f"{in_dir}/part.parquet")
    release_all_cached()
    run_incremental(spark, in_dir, out_dir, str(tmp_path / "state"),
                    str(tmp_path / "ckpt"))
    assert spark.read.parquet(out_dir).count() == 20
    assert outstanding_cached() == []


def test_incremental_refuses_legacy_partitioned_output(spark, tmp_path):
    """The stream must refuse a run_id=-partitioned output dir BEFORE any
    micro-batch appends a flat file into it (the CLI guard, applied to the
    incremental path too) — and leave the directory untouched."""
    import os

    import pytest

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    write_documents_parquet(generate_documents(5, seed=7, mega_spans=50,
                                               include_edge=False),
                            f"{in_dir}/a.parquet")
    # legacy layout: partitionBy('run_id')
    import pyspark.sql.functions as F
    extract(spark.read.parquet(in_dir)) \
        .withColumn("run_id", F.lit("r0")) \
        .write.partitionBy("run_id").parquet(out_dir)
    before = sorted(os.listdir(out_dir))
    with pytest.raises(ValueError, match="legacy"):
        run_incremental(spark, in_dir, out_dir,
                        str(tmp_path / "state"), str(tmp_path / "ckpt"))
    assert sorted(os.listdir(out_dir)) == before  # nothing appended


def test_streaming_kill_then_resume(spark, tmp_path):
    """Chaos: SIGKILL a live run_incremental subprocess mid-stream, then
    re-run — the checkpoint may replay the batch and orphan outputs may
    exist, but the manifest anti-join makes replays no-ops and
    read_committed drops orphans: the committed view equals batch extract
    with zero duplicate docs.  Valid even if the kill lands after
    completion (the rerun is then a pure no-op)."""
    import os
    import signal
    import subprocess
    import sys
    import time

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    docs = generate_documents(50, seed=21, mega_spans=300,
                              include_edge=False)
    write_documents_parquet(docs, f"{in_dir}/part.parquet")

    code = (
        "from vlm_ocr_doc_reader_spark.sources.session import get_spark\n"
        "from vlm_ocr_doc_reader_spark.streaming.incremental import "
        "run_incremental\n"
        "s = get_spark(master='local[2]', "
        "extra_conf={'spark.ui.enabled': 'false'})\n"
        f"run_incremental(s, {in_dir!r}, {out_dir!r}, {state!r}, {ckpt!r})\n")
    proc = subprocess.Popen([sys.executable, "-c", code],
                            stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL, cwd=_REPO_ROOT,
                            start_new_session=True)
    time.sleep(13)
    if proc.poll() is None:
        # the whole process group: the driver's JVM outlives a killed
        # Python driver by ~2s and keeps writing checkpoint/output files,
        # racing the resume below as a second writer
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()

    # resume with the same checkpoint+state in-process
    from vlm_ocr_doc_reader_spark.streaming.incremental import \
        run_incremental as run_inc
    run_inc(spark, in_dir, out_dir, state, ckpt)

    from vlm_ocr_doc_reader_spark.state.manifest import read_committed
    committed = read_committed(spark, out_dir, state, "extract")
    n = spark.read.parquet(in_dir).count()
    assert committed.count() == n
    assert committed.select("doc_id").distinct().count() == n
    clean = {r["doc_id"]: r["spans"]
             for r in extract(spark.read.parquet(in_dir)).collect()}
    got = {r["doc_id"]: r["spans"]
           for r in committed.select("doc_id", "spans").collect()}
    assert got == clean
