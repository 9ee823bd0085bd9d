"""``extract`` (the Arrow kernel) is held to the scalar oracle document
by document, and its plan is the zero-shuffle map that starts no job."""

import pytest

from vlm_ocr_doc_reader_spark.fixtures.generate import (
    generate_documents, write_documents_parquet)
from vlm_ocr_doc_reader_spark.plans.extract import extract


@pytest.fixture(scope="module")
def corpus_df(spark, tmp_path_factory):
    docs = generate_documents(120, seed=99, mega_spans=1500)
    p = str(tmp_path_factory.mktemp("se") / "docs.parquet")
    write_documents_parquet(docs, p)
    return spark.read.parquet(p)


def test_extract_starts_no_spark_job(corpus_df, jobs_started):
    """Building the extraction plan is free: ``extract`` starts no Spark job
    (no probe of the input), and its plan is the pure zero-shuffle map —
    no Exchange, no Union — even though the corpus holds mega docs."""
    with jobs_started() as jobs:
        out = extract(corpus_df)
    assert jobs == []
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert "Exchange" not in plan and "Union" not in plan
    assert "MapInArrow" in plan


def test_plans_extract_names_the_module():
    """``plans.extract`` is the module (the package re-exports nothing
    under a submodule's name), so ``import ... as`` and monkeypatching
    reach the module's globals."""
    import inspect

    import vlm_ocr_doc_reader_spark.plans.extract as extract_mod
    assert inspect.ismodule(extract_mod)
    assert extract_mod.extract is extract


def test_vectorized_fused_equals_scalar_oracle_form(corpus_df):
    """The default extraction is Arrow-kernel vectorized
    (fused._extract_arrow_batch, RE2 regexes); the scalar per-doc oracle
    (``oracle.extract_doc``) is the drift guard — byte-identical on every
    corpus row including mega/edge docs (null spans -> [])."""
    from vlm_ocr_doc_reader_spark.extraction.oracle import extract_doc
    rows = corpus_df.collect()
    want = {r["doc_id"]: [] if r["spans"] is None else
            [tuple(s) for s in extract_doc(
                [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in r["spans"]])]
            for r in rows}
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                         for s in r["spans"]]
           for r in extract(corpus_df).collect()}
    assert set(got) == set(want)
    diff = [d for d in want if got[d] != want[d]]
    assert not diff, f"{len(diff)} docs differ; first: {diff[0]}"


def test_fused_raw_keeps_all_pruned_docs(spark):
    """A doc whose spans are ALL boilerplate/link must still emit its row
    with an empty spans array: the kernel maps rows 1:1.  (The name
    predates the removal of the ``fused_raw`` strategy, whose prefilter
    first raised the case.)"""
    rows = [("bp_only", [("boilerplate", "Copyright 2026.", None, 0),
                         ("link", "home", None, 1)]),
            ("normal", [("text", "A good long sentence right here.", None,
                         0)])]
    from vlm_ocr_doc_reader_spark.sources.readers import DOCUMENTS_SCHEMA
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    out = {r["doc_id"]: r["spans"] for r in extract(df).collect()}
    assert out["bp_only"] == []
    assert len(out["normal"]) == 1
