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


def test_cli_resumed_extract_runs_four_jobs(spark, tmp_path, jobs_started):
    """A resumed CLI extract is 4 Spark jobs: the input's schema read, the
    pending anti-join's manifest broadcast, the output write and the
    manifest commit.  No probe of the input before the write, no
    footer-merge read of the output dir, no metrics append."""
    docs = generate_documents(40, seed=6, mega_spans=200, include_edge=False)
    half, full = str(tmp_path / "half.parquet"), str(tmp_path / "in.parquet")
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    write_documents_parquet(docs[:20], half)
    write_documents_parquet(docs, full)
    assert cli_main(["extract", "--input", half, "--output", out,
                     "--state", state]) == 0
    with jobs_started() as jobs:
        rc = cli_main(["extract", "--input", full, "--output", out,
                       "--state", state])
    assert rc == 0
    assert len(jobs) == 4
    assert spark.read.parquet(out).count() == 40


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
