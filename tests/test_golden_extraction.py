"""Golden-file test: Spark pipeline output == single-node oracle, exactly.

The judged invariant (BASELINE.json): span-sequence equality on
(kind, text, media_ref, order) per doc_id.
"""

import pytest

from vlm_ocr_doc_reader_spark.extraction.oracle import extract_doc
from vlm_ocr_doc_reader_spark.fixtures.generate import (
    generate_documents, write_documents_parquet)
from vlm_ocr_doc_reader_spark.plans.extract import extract

N_DOCS = 150
MEGA_SPANS = 2000  # keep pytest fast; bench uses 10^4+


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    docs = generate_documents(N_DOCS, seed=42, mega_spans=MEGA_SPANS)
    path = str(tmp_path_factory.mktemp("corpus") / "documents.parquet")
    write_documents_parquet(docs, path)
    return docs, path


def test_spark_matches_oracle_exactly(spark, corpus):
    docs, path = corpus
    golden = {doc_id: [tuple(s) for s in extract_doc(spans)]
              for doc_id, spans in docs}

    out = extract(spark.read.parquet(path)).collect()
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                         for s in r["spans"]]
           for r in out}

    assert set(got) == set(golden), "doc_id sets differ"
    mismatches = [d for d in golden if got[d] != golden[d]]
    if mismatches:
        d = mismatches[0]
        a, b = golden[d], got[d]
        for i, (x, y) in enumerate(zip(a, b)):
            if x != y:
                raise AssertionError(
                    f"{len(mismatches)} docs mismatch; first {d} span {i}:\n"
                    f"  oracle: {x}\n  spark:  {y}")
        raise AssertionError(
            f"{len(mismatches)} docs mismatch; {d}: lengths "
            f"{len(a)} (oracle) vs {len(b)} (spark)")


def test_empty_and_edge_docs_present(spark, corpus):
    docs, path = corpus
    out = extract(spark.read.parquet(path))
    rows = {r["doc_id"]: r["spans"] for r in out.collect()}
    assert rows["edge_empty"] == []
    assert rows["edge_all_boiler"] == []
    assert len(rows["edge_dup_text"]) == 2  # duplicates both kept, ordered
    orders = [s["order"] for s in rows["edge_dup_text"]]
    assert orders == [0, 1]


def _media_mega(spans):
    """Every 50th span becomes a media span whose anchor sits 30 spans
    earlier, so the doc needs media reconciliation: the kernel's slow pool
    (``oracle.order_kept``) orders it, not the offset-order fast path."""
    spans = list(spans)
    for i in range(49, len(spans), 50):
        ref = f"img_m_{i}"
        kind, text, _, off = spans[i - 30]
        spans[i - 30] = (kind, f"{text} [[{ref}]]", None, off)
        spans[i] = ("image", spans[i][1], ref, spans[i][3])
    return spans


@pytest.mark.parametrize("n_spans,slow", [(100_000, False), (150_000, True)],
                         ids=["text", "media"])
def test_single_100k_span_mega_doc(spark, tmp_path, n_spans, slow):
    """One document at and above the 10^5-span scale flows through
    ``extract`` (one Arrow row) without memory incident and matches the
    oracle: a text doc on the kernel's fast path, and a 150k-span doc whose
    media spans and anchors send it through the slow pool."""
    doc_id, spans = generate_documents(1, seed=13, mega_spans=n_spans,
                                       include_edge=False)[0]
    if slow:
        spans = _media_mega(spans)
    p = str(tmp_path / "mega.parquet")
    write_documents_parquet([(doc_id, spans)], p)
    out = extract(spark.read.parquet(p)).collect()
    assert len(out) == 1
    golden = extract_doc(spans)
    got = [(s["kind"], s["text"], s["media_ref"], s["order"])
           for s in out[0]["spans"]]
    assert got == [tuple(s) for s in golden]
    assert len(got) > 50_000
    if slow:  # the media spans survive, so the doc took the slow pool
        assert sum(g[0] == "image" for g in got) > 2_000
