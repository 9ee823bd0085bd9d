"""Sources (enforced schema, quarantine, content hash) + A8 consistency.
The P5 quarantine of malformed spans is the kernel's; its Spark-free
parity cases are in tests/test_classify_parity.py."""

import pyspark.sql.functions as F

from vlm_ocr_doc_reader_spark.fixtures.generate import (
    generate_documents, write_documents_parquet)
from vlm_ocr_doc_reader_spark.operators.fused import fused_kept_spans
from vlm_ocr_doc_reader_spark.operators.metrics import consistency_vs_baseline
from vlm_ocr_doc_reader_spark.sources.readers import (
    DOCUMENTS_SCHEMA, read_documents, register_memory_views,
    with_content_hash)


def test_read_documents_enforced_schema(spark, tmp_path):
    docs = generate_documents(10, seed=5, mega_spans=100, include_edge=False)
    p = str(tmp_path / "d.parquet")
    write_documents_parquet(docs, p)
    df = read_documents(spark, p)
    assert df.schema.simpleString() == DOCUMENTS_SCHEMA.simpleString()
    assert df.count() == 10


def test_json_and_orc_sources_roundtrip(spark, tmp_path):
    """Same corpus through JSONL and ORC sources -> identical extraction
    output to the parquet path (source format is orthogonal to the plan)."""
    from vlm_ocr_doc_reader_spark.plans.extract import extract
    from vlm_ocr_doc_reader_spark.sources.readers import (
        read_documents, read_documents_json, read_documents_orc)
    docs = generate_documents(20, seed=8, mega_spans=100, include_edge=False)
    pq = str(tmp_path / "d.parquet")
    write_documents_parquet(docs, pq)
    base = read_documents(spark, pq)
    jl, orc = str(tmp_path / "d.jsonl"), str(tmp_path / "d.orc")
    base.write.json(jl)
    base.write.orc(orc)
    want = {r["doc_id"]: r["spans"] for r in extract(base).collect()}
    for reader, path in ((read_documents_json, jl),
                         (read_documents_orc, orc)):
        df = reader(spark, path)
        assert df.schema.simpleString() == base.schema.simpleString()
        got = {r["doc_id"]: r["spans"] for r in extract(df).collect()}
        assert got == want, reader.__name__


def test_ensure_min_partitions_lifts_small_inputs_only(spark, tmp_path):
    """A single-row-group parquet file plans as ONE split, serializing
    every narrow stage; ensure_min_partitions lifts it to the requested
    parallelism, is a NO-OP on an input that already has enough partitions
    (no repartition shuffle at real scale), and never changes rows."""
    from vlm_ocr_doc_reader_spark.sources.readers import ensure_min_partitions
    p = str(tmp_path / "small.parquet")
    spark.range(100).coalesce(1).write.parquet(p)
    small = spark.read.parquet(p)
    assert small.rdd.getNumPartitions() == 1
    lifted = ensure_min_partitions(small, 8)
    assert lifted.rdd.getNumPartitions() == 8
    assert sorted(r["id"] for r in lifted.collect()) == list(range(100))
    # already-parallel input: same object back, plan untouched
    wide = spark.range(100).repartition(16)
    assert ensure_min_partitions(wide, 8) is wide


def _kept_and_quarantined(df):
    """(kept span rows, number of input spans the kernel quarantined)."""
    kept = fused_kept_spans(df).collect()
    n_in = df.select(F.sum(F.size("spans"))).first()[0]
    return kept, n_in - len(kept)


def test_quarantine_unknown_kinds(spark):
    rows = [("d1", [("text", "Good sentence here today.", None, 0),
                    ("blob", "???", None, 1),
                    ("text", "x", None, None)])]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    good, n_bad = _kept_and_quarantined(df)
    assert [(r["kind"], r["offset"]) for r in good] == [("text", 0)]
    assert n_bad == 2


def test_quarantine_is_lossless_on_null_kind(spark):
    """NULL kind must land in quarantine, not in the kept output, and must
    not take its valid neighbour with it (null-safe split)."""
    rows = [("d1", [("text", "Good sentence here today.", None, 0),
                    (None, "null kind span", None, 1)])]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    good, n_bad = _kept_and_quarantined(df)
    assert [(r["kind"], r["offset"]) for r in good] == [("text", 0)]
    assert n_bad == 1                 # the null-kind row is quarantined


def test_content_hash_changes_with_content(spark):
    a = spark.createDataFrame(
        [("d1", [("text", "v1", None, 0)])], DOCUMENTS_SCHEMA)
    b = spark.createDataFrame(
        [("d1", [("text", "v2", None, 0)])], DOCUMENTS_SCHEMA)
    ha = with_content_hash(a).collect()[0]["content_hash"]
    hb = with_content_hash(b).collect()[0]["content_hash"]
    ha2 = with_content_hash(a).collect()[0]["content_hash"]
    assert ha != hb and ha == ha2 and len(ha) == 64


def test_memory_views(spark):
    df = spark.createDataFrame([(1,)], "x int")
    register_memory_views(spark, {"tiny": df})
    assert spark.sql("SELECT sum(x) s FROM tiny").collect()[0]["s"] == 1


def test_consistency_vs_baseline(spark):
    base = spark.createDataFrame(
        [("e1", "a"), ("e2", "b"), ("e3", None)],
        "entity_id string, value string")
    run = spark.createDataFrame(
        [("e1", "a"), ("e2", "X"), ("e3", None), ("e4", "zzz")],
        "entity_id string, value string")
    r = consistency_vs_baseline(run, base, ["entity_id"]).collect()[0]
    assert (r["n_total"], r["n_match"]) == (3, 2)
    assert abs(r["consistency"] - 2 / 3) < 1e-6


def test_malformed_spans_dropped_consistently(spark):
    """Null offset/kind spans drop (defensive P5)."""
    from vlm_ocr_doc_reader_spark.plans.extract import extract
    rows = [("d1", [("text", "Good first sentence here today.", None, 0),
                    ("text", "orphan offset", None, None),
                    (None, "orphan kind", None, 1),
                    ("text", "Good second sentence here today.", None, 2)])]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    out = {r["doc_id"]: [(s["text"], s["order"]) for s in r["spans"]]
           for r in extract(df).collect()}
    assert out["d1"] == [("Good first sentence here today.", 0),
                         ("Good second sentence here today.", 1)]


def test_binary_landing_and_guarded_pdf_parser(spark, tmp_path):
    """S1 landing zone: raw bytes land with path/length/content; the
    PDF->spans kernel is import-guarded — a real parse when PyMuPDF exists,
    a clear ImportError (not a silent wrong answer) when it does not."""
    from vlm_ocr_doc_reader_spark.sources.readers import (
        has_pdf_parser, pdf_to_spans, read_binary_docs)
    p = tmp_path / "a.pdf"
    p.write_bytes(b"%PDF-1.4 fake-for-landing-test")
    (tmp_path / "ignore.txt").write_text("not a pdf")
    landed = read_binary_docs(spark, str(tmp_path))
    rows = landed.collect()
    assert len(rows) == 1 and rows[0]["path"].endswith("a.pdf")
    assert bytes(rows[0]["content"]).startswith(b"%PDF")

    if not has_pdf_parser():
        import pytest
        with pytest.raises(ImportError):
            pdf_to_spans(landed)
    else:  # container with fitz: make a real one-page PDF and parse it
        import fitz
        doc = fitz.open()
        page = doc.new_page()
        page.insert_text((72, 72), "Hello spans")
        p.write_bytes(doc.tobytes())
        out = pdf_to_spans(read_binary_docs(spark, str(tmp_path))).collect()
        assert out and any("Hello spans" in (s["text"] or "")
                           for s in out[0]["spans"])
