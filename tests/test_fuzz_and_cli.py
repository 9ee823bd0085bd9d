"""Fuzz: multiple random corpora (different seeds) must match the oracle
exactly; CLI: end-to-end extract command over a tiny corpus."""

import os

import pytest

from vlm_ocr_doc_reader_spark.cli import main as cli_main
from vlm_ocr_doc_reader_spark.extraction.oracle import extract_doc
from vlm_ocr_doc_reader_spark.fixtures.generate import (
    generate_documents, write_documents_parquet)
from vlm_ocr_doc_reader_spark.plans.extract import extract


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_fuzz_seeds_match_oracle(spark, tmp_path, seed):
    docs = generate_documents(100, seed=seed, mega_spans=400)
    p = str(tmp_path / f"fz{seed}.parquet")
    write_documents_parquet(docs, p)
    golden = {d: [tuple(s) for s in extract_doc(sp)] for d, sp in docs}
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                         for s in r["spans"]]
           for r in extract(spark.read.parquet(p)).collect()}
    assert got == golden


def test_cli_extract_end_to_end(spark, tmp_path):
    docs = generate_documents(30, seed=4, mega_spans=200, include_edge=False)
    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    write_documents_parquet(docs, inp)

    rc = cli_main(["extract", "--input", inp, "--output", out,
                   "--state", state])
    assert rc == 0
    got = spark.read.parquet(out)
    assert got.count() == 30
    # rerun is a no-op thanks to the manifest (writes nothing new)
    rc = cli_main(["extract", "--input", inp, "--output", out,
                   "--state", state])
    assert rc == 0
    assert spark.read.parquet(out).count() == 30
    assert os.path.isdir(state)


def test_cli_extract_mega_doc_route_releases_cache(spark, tmp_path):
    """Leak check: a CLI run over a corpus holding mega docs leaves no
    cached frame behind, or a long-lived session would keep one per run.
    Mega docs are where a persisted intermediate would be costliest."""
    from vlm_ocr_doc_reader_spark.datapipe.cache import (
        outstanding_cached, release_all_cached)
    docs = generate_documents(20, seed=5, mega_spans=300, include_edge=False)
    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    write_documents_parquet(docs, inp)
    release_all_cached()
    rc = cli_main(["extract", "--input", inp, "--output", out,
                   "--state", str(tmp_path / "state")])
    assert rc == 0
    assert spark.read.parquet(out).count() == 20
    assert outstanding_cached() == []


def _resume(tmp_path):
    """(full input, extract args) with the first half of a 40-doc corpus
    committed by a CLI run."""
    docs = generate_documents(40, seed=6, mega_spans=200, include_edge=False)
    half, full = str(tmp_path / "half.parquet"), str(tmp_path / "in.parquet")
    write_documents_parquet(docs[:20], half)
    write_documents_parquet(docs, full)
    args = ["extract", "--output", str(tmp_path / "out"),
            "--state", str(tmp_path / "state")]
    assert cli_main(args + ["--input", half]) == 0
    return full, args


def test_cli_resumed_extract_runs_three_jobs(spark, tmp_path, jobs_started):
    """A resumed CLI extract is 3 Spark jobs: the pending anti-join's
    manifest broadcast, the output write and the manifest commit.  No
    schema-inference read of the input, no probe of the input before the
    write, no footer-merge read of the output dir, no metrics append."""
    full, args = _resume(tmp_path)
    with jobs_started() as jobs:
        rc = cli_main(args + ["--input", full])
    assert rc == 0
    assert len(jobs) == 3
    assert spark.read.parquet(str(tmp_path / "out")).count() == 40


def _executed_plans(spark, jobs):
    """Physical plans of the SQL executions that ran ``jobs``."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    plans = []
    for i in range(execs.size()):
        e = execs.apply(i)
        ran = {int(j) for j in str(e.jobs().keys().mkString(",")).split(",")
               if j}
        if ran & set(jobs):
            plans.append(str(e.physicalPlanDescription()))
    return plans


def test_cli_run_commit_reads_only_ids_and_span_order(spark, tmp_path,
                                                      jobs_started):
    """The run commit scans the output once, reading only doc_id, run_id
    and the spans' order leaf, and hashes nothing: no span text is decoded
    or serialized to commit a run."""
    import re
    full, args = _resume(tmp_path)
    with jobs_started() as jobs:
        assert cli_main(args + ["--input", full]) == 0
    manifest = os.path.join(str(tmp_path / "state"), "manifest")
    commits = [p for p in _executed_plans(spark, jobs)
               if re.search(r"Arguments: (file:)?" + re.escape(manifest) + ",",
                            p)]
    assert len(commits) == 1
    plan = commits[0]
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert re.findall(r"ReadSchema: (.*)", plan) == [
        "struct<doc_id:string,spans:array<struct<order:int>>,"
        "run_id:string>"]
    assert "to_json" not in plan and "sha2" not in plan


def test_cli_null_doc_id_dropped_at_read(spark, tmp_path):
    """An input row with a null doc_id is dropped when the input is read:
    no resume extracts it, so it never reaches the output.  (An anti-join
    never matches a null key, so a null id read through would be
    re-extracted by every resume.)"""
    docs = generate_documents(10, seed=8, mega_spans=100, include_edge=False)
    inp = str(tmp_path / "in.parquet")
    write_documents_parquet(docs + [(None, docs[0][1])], inp)
    out = str(tmp_path / "out")
    for _ in range(2):
        assert cli_main(["extract", "--input", inp, "--output", out,
                         "--state", str(tmp_path / "state")]) == 0
    got = spark.read.parquet(out)
    assert got.count() == 10
    assert got.filter(got.doc_id.isNull()).count() == 0


def test_cli_invalid_args_exit_code(tmp_path):
    """Invalid --pages/--axes exit 2 before any Spark work (reference CLI
    arg-validation parity: its tests/unit/test_cli.py:55-120)."""
    rc = cli_main(["verify", "--input", str(tmp_path / "x"),
                   "--registry", str(tmp_path / "r"), "--pages", "7-5"])
    assert rc == 2
    rc = cli_main(["verify", "--input", str(tmp_path / "x"),
                   "--registry", str(tmp_path / "r"), "--axes", "0,1"])
    assert rc == 2


def test_cli_scan_resolve_verify(spark, tmp_path):
    docs = [("d1", [("text", "Contract id 7704123456 is stated here.",
                     None, 0)])]
    inp = str(tmp_path / "in2.parquet")
    reg = str(tmp_path / "registry")
    write_documents_parquet(docs, inp)
    rc = cli_main(["verify", "--input", inp, "--registry", reg,
                   "--axes", "1,3"])
    assert rc == 0
    rows = spark.read.parquet(reg).collect()
    assert len(rows) == 1
    assert rows[0]["value"] == "7704123456"
    assert rows[0]["resolution"] == 2 and rows[0]["confidence"] == "2/2"
