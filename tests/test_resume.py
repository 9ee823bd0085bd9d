"""Kill/resume simulation (SURVEY §5 item 4): run the extraction on half the
corpus, commit the manifest, then re-run on the full corpus — only the
remainder is processed and the combined output equals a clean full run.
Reference analog: workspace reattach + pending-work derivation
(core/state.py:901-903, 824-840)."""

import os

import pytest

from vlm_ocr_doc_reader_spark.fixtures.generate import (
    generate_documents, write_documents_parquet)
from vlm_ocr_doc_reader_spark.plans.extract import extract
from vlm_ocr_doc_reader_spark.state.manifest import (commit_phase,
                                                     compact_manifest,
                                                     new_run_id,
                                                     pending_docs,
                                                     read_committed,
                                                     read_manifest,
                                                     read_metrics)

# subprocesses import the package from the checkout under test
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def corpus_path(tmp_path_factory):
    docs = generate_documents(60, seed=11, mega_spans=300)
    p = str(tmp_path_factory.mktemp("rs") / "docs.parquet")
    write_documents_parquet(docs, p)
    return p


def test_resume_processes_only_remainder(spark, corpus_path, tmp_path):
    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    docs = spark.read.parquet(corpus_path)
    n_total = docs.count()

    # ---- run 1: simulate a job killed after half the docs committed ----
    half = docs.filter(pyhash_half := (docs.doc_id.substr(-1, 1)
                                       .isin(*"02468")))
    out1 = extract(half)
    out1.write.mode("append").parquet(out_dir)
    commit_phase(out1, spark, state_dir, "extract")
    n_half = half.count()
    assert 0 < n_half < n_total
    assert read_manifest(spark, state_dir, "extract").count() == n_half

    # ---- run 2: resume over the FULL input ----
    todo = pending_docs(docs, spark, state_dir, "extract")
    assert todo.count() == n_total - n_half          # zero reprocessing
    out2 = extract(todo)
    out2.write.mode("append").parquet(out_dir)
    commit_phase(out2, spark, state_dir, "extract")

    # ---- combined result == clean full run ----
    resumed = {r["doc_id"]: r["spans"]
               for r in spark.read.parquet(out_dir).collect()}
    clean = {r["doc_id"]: r["spans"] for r in extract(docs).collect()}
    assert resumed == clean

    # run 3: nothing pending
    assert pending_docs(docs, spark, state_dir, "extract").count() == 0

    # metrics lineage recorded per partition per phase
    m = read_metrics(spark, state_dir)
    assert m.count() >= 2
    assert m.groupBy().sum("docs").collect()[0][0] == n_total
    _ = pyhash_half


def test_atomic_commit_crash_between_write_and_manifest(spark, corpus_path,
                                                        tmp_path):
    """Output parquet lands BEFORE the manifest commit; a crash in between
    must not yield duplicate doc rows after the rerun — read_committed drops
    the orphaned run and the rerun reprocesses those docs."""
    import pyspark.sql.functions as F
    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    docs = spark.read.parquet(corpus_path)
    n_total = docs.count()

    # run 1 CRASHES after the output write, before commit_phase
    run1 = new_run_id()
    extract(docs).withColumn("run_id", F.lit(run1)) \
        .write.mode("append").parquet(out_dir)
    # (no commit_phase -> manifest never saw run1)

    # rerun: manifest empty, so ALL docs are pending again
    todo = pending_docs(docs, spark, state_dir, "extract")
    assert todo.count() == n_total
    run2 = new_run_id()
    out2 = extract(todo).withColumn("run_id", F.lit(run2))
    out2.write.mode("append").parquet(out_dir)
    commit_phase(out2.drop("run_id"), spark, state_dir, "extract",
                 run_id=run2)

    # raw output has duplicates (both runs); committed view does not
    raw = spark.read.parquet(out_dir)
    assert raw.count() == 2 * n_total
    committed = read_committed(spark, out_dir, state_dir, "extract")
    assert committed.count() == n_total
    assert committed.select("doc_id").distinct().count() == n_total
    clean = {r["doc_id"]: r["spans"] for r in extract(docs).collect()}
    got = {r["doc_id"]: r["spans"]
           for r in committed.drop("run_id").collect()}
    assert got == clean


def test_real_kill_then_resume(corpus_path, tmp_path):
    """Chaos test: SIGKILL an actual extract CLI subprocess mid-run, then
    resume — committed view must equal a clean run with no duplicates.
    If the kill happens to land after completion, the rerun is a no-op and
    the same assertions hold (non-flaky by construction)."""
    import signal
    import subprocess
    import sys
    import time

    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    cmd = [sys.executable, "-m", "vlm_ocr_doc_reader_spark.cli", "extract",
           "--master", "local[2]",
           "--input", corpus_path, "--output", out_dir,
           "--state", state_dir]
    proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL, cwd=_REPO_ROOT,
                            start_new_session=True)
    time.sleep(12)  # JVM boot ~8s; lands somewhere inside the job
    if proc.poll() is None:
        # the whole process group: the driver's JVM outlives a killed
        # Python driver by ~2s and keeps writing checkpoint/output files,
        # racing the resume below as a second writer
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()

    # resume in-process (same CLI code path)
    from vlm_ocr_doc_reader_spark.cli import main
    assert main(["extract", "--input", corpus_path, "--output", out_dir,
                 "--state", state_dir]) == 0

    from vlm_ocr_doc_reader_spark.sources.session import get_spark
    spark = get_spark()
    docs = spark.read.parquet(corpus_path)
    committed = read_committed(spark, out_dir, state_dir, "extract")
    assert committed.count() == docs.count()
    assert committed.select("doc_id").distinct().count() == docs.count()
    clean = {r["doc_id"]: r["spans"] for r in extract(docs).collect()}
    got = {r["doc_id"]: r["spans"]
           for r in committed.select("doc_id", "spans").collect()}
    assert got == clean


def test_manifest_compaction_bounds_reads(spark, corpus_path, tmp_path):
    """K successive commits grow the manifest K-fold; compaction keeps only
    the latest (doc_id, phase) row and resume still sees zero pending."""
    state_dir = str(tmp_path / "state")
    docs = spark.read.parquet(corpus_path)
    n_total = docs.count()
    out = extract(docs)
    for _ in range(3):
        commit_phase(out, spark, state_dir, "extract", run_id=new_run_id())
    assert read_manifest(spark, state_dir).count() == 3 * n_total

    kept = compact_manifest(spark, state_dir)
    assert kept == n_total
    assert read_manifest(spark, state_dir).count() == n_total
    # latest run wins and resume semantics are unchanged
    assert pending_docs(docs, spark, state_dir, "extract").count() == 0


def test_legacy_flat_output_upgraded_in_place(spark, corpus_path, tmp_path):
    """An output dir first written WITHOUT run tagging (legacy flat files)
    must keep working after tagged runs append to it: one flat layout, no
    partition-discovery conflict, and read_committed returns both the
    legacy docs (doc_id-only check) and the tagged docs."""
    import pyspark.sql.functions as F
    from vlm_ocr_doc_reader_spark.state.manifest import check_output_layout
    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    docs = spark.read.parquet(corpus_path)
    half = docs.filter(docs.doc_id.substr(-1, 1).isin(*"02468"))
    rest = docs.subtract(half)

    # legacy era: no run_id anywhere
    extract(half).write.mode("append").parquet(out_dir)
    commit_phase(extract(half), spark, state_dir, "extract")

    # upgraded era: tagged flat append into the SAME directory
    check_output_layout(out_dir)  # flat legacy files are fine
    run2 = new_run_id()
    out2 = extract(rest).withColumn("run_id", F.lit(run2))
    out2.write.mode("append").parquet(out_dir)
    commit_phase(out2.drop("run_id"), spark, state_dir, "extract",
                 run_id=run2)

    committed = read_committed(spark, out_dir, state_dir, "extract")
    assert committed.select("doc_id").distinct().count() == docs.count()
    assert committed.count() == docs.count()

    # the OLD partitioned layout is refused with a migration message
    part_dir = str(tmp_path / "old_layout")
    out2.write.mode("append").partitionBy("run_id").parquet(part_dir)
    with pytest.raises(ValueError):
        check_output_layout(part_dir)


def test_compaction_crash_window_recovers(spark, corpus_path, tmp_path):
    """A crash between the compaction swap's two renames must NOT orphan the
    manifest: the next read recovers the '.old' copy and resume still sees
    zero pending (the old rmtree-then-rename swap lost everything here)."""
    from vlm_ocr_doc_reader_spark.state.manifest import (manifest_path,
                                                         recover_manifest)
    state_dir = str(tmp_path / "state")
    docs = spark.read.parquet(corpus_path)
    commit_phase(extract(docs), spark, state_dir, "extract",
                 run_id=new_run_id())
    n = read_manifest(spark, state_dir).count()
    assert n > 0

    # simulate the crash: manifest renamed aside, replacement never landed
    path = manifest_path(state_dir)
    os.rename(path, path + ".old")
    assert not os.path.exists(path)

    # any manifest read heals it; no committed work is forgotten
    assert read_manifest(spark, state_dir).count() == n
    assert pending_docs(docs, spark, state_dir, "extract").count() == 0
    assert not os.path.exists(path + ".old")
    assert not recover_manifest(state_dir)  # idempotent no-op now

    # and compaction itself recovers + completes after such a crash
    os.rename(path, path + ".old")
    kept = compact_manifest(spark, state_dir)
    assert kept == docs.count()
    assert pending_docs(docs, spark, state_dir, "extract").count() == 0


_OUT_SCHEMA = ("doc_id string, spans array<struct<kind:string,text:string,"
               "media_ref:string,order:int>>")
# (doc_id, content_hash, n_spans) of the rows below, as manifests already
# on disk hold them: the hash expression must not change, or resume would
# see every committed doc as new work
_GOLDEN = [
    ("a", "014a7e20037c2c71ee5821ce94178077af68fdfe04afc49d044580134a5f1834",
     1),
    ("a", "f9f04d6338907b4567aeffb69216d27405ba63652d17aad81eb8e1cbc6cf3f00",
     2),
    ("b", "d012e4a72d644e085a0e26fa2940a91cdaaa281a5e8bd3bc44c22c07ad5fe1af",
     0),
]


def _processed_with_duplicate(spark):
    return spark.createDataFrame([
        ("a", [("text", "First kept sentence here.", None, 0)]),
        ("a", [("heading", "Title", None, 0), ("image", "", "img_a_0", 1)]),
        ("b", [])], _OUT_SCHEMA)


def test_duplicated_doc_id_one_manifest_row_per_processed_row(spark,
                                                              tmp_path):
    """A doc_id repeated in ``processed`` (a replayed batch, a doc listed
    twice in the input) gives one manifest row per processed row with that
    row's own hash and span count; a self-join on doc_id would multiply the
    rows (3 -> 5 here) and pair each hash with the other row's count."""
    state_dir = str(tmp_path / "state")
    commit_phase(_processed_with_duplicate(spark), spark, state_dir,
                 "extract")
    m = read_manifest(spark, state_dir, "extract")
    assert sorted((r["doc_id"], r["content_hash"], r["n_spans"])
                  for r in m.collect()) == _GOLDEN
    docs_sum = read_metrics(spark, state_dir).groupBy().sum("docs") \
        .collect()[0][0]
    assert m.count() == docs_sum == 3


def test_versioned_commit_one_row_per_processed_row(spark, tmp_path):
    """With ``input_docs`` the hash is the INPUT version hash, joined once:
    still one manifest row per processed row, each with its own count."""
    from vlm_ocr_doc_reader_spark.sources.readers import (DOCUMENTS_SCHEMA,
                                                          with_content_hash)
    state_dir = str(tmp_path / "state")
    inp = spark.createDataFrame(
        [("a", [("text", "First kept sentence here.", None, 0)]),
         ("b", [])], DOCUMENTS_SCHEMA)
    commit_phase(_processed_with_duplicate(spark), spark, state_dir,
                 "extract", input_docs=inp)
    want = {r["doc_id"]: r["content_hash"]
            for r in with_content_hash(inp).collect()}
    got = sorted((r["doc_id"], r["content_hash"], r["n_spans"])
                 for r in read_manifest(spark, state_dir).collect())
    assert got == [("a", want["a"], 1), ("a", want["a"], 2),
                   ("b", want["b"], 0)]


def test_read_committed_view_starts_no_job(spark, corpus_path, tmp_path,
                                          jobs_started):
    """The committed view reads the output with its known schema: building
    it starts no Spark job (no footer merge over a directory that grows
    with every run).  Legacy files without ``run_id`` read it as null and
    keep the doc_id-only check, alone in a directory or next to tagged
    runs; an orphan run (written, never committed) stays out."""
    import pyspark.sql.functions as F
    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    docs, half, rest = _halves(spark, corpus_path)
    n_half = half.count()

    extract(half).write.mode("append").parquet(out_dir)      # legacy era
    commit_phase(extract(half), spark, state_dir, "extract")
    with jobs_started() as jobs:
        legacy = read_committed(spark, out_dir, state_dir, "extract")
    assert jobs == []
    assert legacy.count() == n_half
    assert legacy.filter(F.col("run_id").isNotNull()).count() == 0

    for committed_run in (False, True):
        run = new_run_id()
        out = extract(rest).withColumn("run_id", F.lit(run))
        out.write.mode("append").parquet(out_dir)
        if committed_run:
            commit_phase(out.drop("run_id"), spark, state_dir, "extract",
                         run_id=run)
    with jobs_started() as jobs:
        committed = read_committed(spark, out_dir, state_dir, "extract")
    assert jobs == []
    assert committed.count() == docs.count()
    assert committed.select("doc_id").distinct().count() == docs.count()
    assert set(committed.columns) == {"doc_id", "spans", "run_id"}


def test_commit_phase_runs_one_job(spark, tmp_path, jobs_started):
    """A commit is ONE Spark job, the manifest write: the per-commit
    counts are a view of the manifest (``read_metrics``), not a second
    table appended by a second job."""
    state_dir = str(tmp_path / "state")
    processed = _processed_with_duplicate(spark)
    with jobs_started() as jobs:
        commit_phase(processed, spark, state_dir, "extract",
                     run_id=new_run_id())
    assert len(jobs) == 1
    assert read_manifest(spark, state_dir).count() == 3


def _halves(spark, corpus_path):
    docs = spark.read.parquet(corpus_path)
    half = docs.filter(docs.doc_id.substr(-1, 1).isin(*"02468"))
    return docs, half, docs.subtract(half)


def test_read_metrics_one_row_per_commit(spark, corpus_path, tmp_path):
    """Two commits give two ``read_metrics`` rows, a null run_id included
    (all rows of one commit share its ``ts``); their docs sum exactly to
    the manifest's row count and their spans to its n_spans."""
    import pyspark.sql.functions as F
    state_dir = str(tmp_path / "state")
    docs, half, rest = _halves(spark, corpus_path)
    commit_phase(extract(half), spark, state_dir, "extract")
    commit_phase(extract(rest), spark, state_dir, "extract",
                 run_id=new_run_id())
    rows = read_metrics(spark, state_dir).collect()
    manifest = read_manifest(spark, state_dir)
    assert len(rows) == 2
    assert sorted(r["docs"] for r in rows) == sorted(
        [half.count(), rest.count()])
    assert sum(r["docs"] for r in rows) == manifest.count() == docs.count()
    assert sum(r["spans"] for r in rows) == \
        manifest.agg(F.sum("n_spans")).collect()[0][0]
    assert sorted(r["run_id"] is None for r in rows) == [False, True]


def test_legacy_metrics_dir_changes_nothing(spark, corpus_path, tmp_path):
    """State dirs written before the metrics view hold a ``metrics/``
    table next to the manifest.  It is not read, and a CLI resume over such
    a state dir recomputes nothing and commits no doc twice."""
    import datetime
    import shutil

    from vlm_ocr_doc_reader_spark.cli import main
    docs, half, _ = _halves(spark, corpus_path)
    inp_half = str(tmp_path / "half.parquet")
    half.write.parquet(inp_half)
    out_dir, state_dir = str(tmp_path / "out"), str(tmp_path / "state")
    assert main(["extract", "--input", inp_half, "--output", out_dir,
                 "--state", state_dir]) == 0
    clean_state = str(tmp_path / "clean_state")
    shutil.copytree(state_dir, clean_state)
    legacy = os.path.join(state_dir, "metrics")
    spark.createDataFrame(
        [("extract", 0, 999, 9999, datetime.datetime(2020, 1, 1))],
        "phase string, partition_id int, docs long, spans long, "
        "ts timestamp").write.parquet(legacy)
    legacy_files = sorted(os.listdir(legacy))

    assert sorted(read_metrics(spark, state_dir).collect()) == \
        sorted(read_metrics(spark, clean_state).collect())
    n_half = half.count()
    assert pending_docs(docs, spark, state_dir, "extract").count() == \
        docs.count() - n_half

    assert main(["extract", "--input", corpus_path, "--output", out_dir,
                 "--state", state_dir]) == 0
    n = docs.count()
    manifest = read_manifest(spark, state_dir)
    assert manifest.count() == manifest.select("doc_id").distinct().count() \
        == n
    committed = read_committed(spark, out_dir, state_dir, "extract")
    assert committed.count() == committed.select("doc_id").distinct() \
        .count() == n
    assert spark.read.parquet(out_dir).count() == n  # nothing recomputed
    assert sorted(r["docs"] for r in read_metrics(spark, state_dir)
                  .collect()) == sorted([n_half, n - n_half])
    assert sorted(os.listdir(legacy)) == legacy_files


def test_legacy_hashed_state_then_run_commit(spark, corpus_path, tmp_path):
    """A state dir whose first commit hashed every row (``commit_phase``
    over the run read back, as CLI runs did before ``commit_run``), then a
    CLI run commit: the next resume recomputes nothing, no doc is
    committed twice, ``read_metrics`` counts both commits and compaction
    keeps one row per doc."""
    import pyspark.sql.functions as F

    from vlm_ocr_doc_reader_spark.cli import main
    from vlm_ocr_doc_reader_spark.operators.fused import RUN_OUTPUT_SCHEMA
    docs, half, rest = _halves(spark, corpus_path)
    n, n_half = docs.count(), half.count()
    out_dir, state_dir = str(tmp_path / "out"), str(tmp_path / "state")
    run = new_run_id()
    extract(half).withColumn("run_id", F.lit(run)) \
        .write.mode("append").parquet(out_dir)
    commit_phase(spark.read.schema(RUN_OUTPUT_SCHEMA).parquet(out_dir)
                 .filter(F.col("run_id") == run).drop("run_id"),
                 spark, state_dir, "extract", run_id=run)
    args = ["extract", "--input", corpus_path, "--output", out_dir,
            "--state", state_dir]
    assert main(args) == 0
    m = read_manifest(spark, state_dir)
    assert m.filter(F.col("content_hash").isNotNull()).count() == n_half
    assert m.filter(F.col("content_hash").isNull()).count() == n - n_half
    assert main(args) == 0                       # nothing left to do
    assert spark.read.parquet(out_dir).count() == n
    committed = read_committed(spark, out_dir, state_dir, "extract")
    assert committed.count() == n
    assert committed.select("doc_id").distinct().count() == n
    assert pending_docs(docs, spark, state_dir, "extract").count() == 0
    assert sorted(r["docs"] for r in read_metrics(spark, state_dir)
                  .collect()) == sorted([n_half, n - n_half])
    assert compact_manifest(spark, state_dir) == n
    assert pending_docs(docs, spark, state_dir, "extract").count() == 0
