"""Layout + media combined: XY-cut reading order AND media-anchor
reconciliation in ONE document (the fixture slices exercise them only
separately).  The claim key uses the XY-cut RANK of the host, so the media
span must land after its host in READING order, not offset order."""

import pytest

from vlm_ocr_doc_reader_spark.extraction.oracle import extract_doc
from vlm_ocr_doc_reader_spark.plans.extract import extract
from vlm_ocr_doc_reader_spark.sources.readers import DOCUMENTS_SCHEMA


def _doc():
    # Two-column page, spans emitted in SHUFFLED visual order.  Reading
    # order by XY-cut: title -> left column (A1, A2) -> right column (B1).
    # A2 anchors img_1; the image span itself sits at a bbox placing it
    # LAST visually — reconciliation must pull it right after A2.
    spans = [
        ("text", "@@bbox:520,100,900,200@@Right column sentence here.",
         None, 0),                                            # B1
        ("heading", "@@bbox:100,10,900,60@@Title Of The Page", None, 1),
        ("text", "@@bbox:100,100,480,200@@Left top sentence here today.",
         None, 2),                                            # A1
        ("image", "@@bbox:100,900,480,950@@figure caption", "img_1", 3),
        ("text", "@@bbox:100,220,480,320@@Left second [[img_1]] "
                 "sentence here.", None, 4),                  # A2 (anchor)
        ("boilerplate", "@@bbox:100,960,900,990@@copyright 2026", None, 5),
    ]
    return [("lm1", spans)]


@pytest.mark.parametrize("run", [pytest.param(extract, id="fused")])
def test_layout_media_reconciliation_in_reading_order(spark, run):
    docs = _doc()
    golden = [tuple(s) for s in extract_doc(docs[0][1])]
    # sanity on the golden itself: title first, then left column, image
    # right after its anchoring host, right column last
    texts = [g[1] for g in golden]
    assert texts == [
        "Title Of The Page",
        "Left top sentence here today.",
        "Left second sentence here.",
        "figure caption",                 # pulled to follow its host (A2)
        "Right column sentence here.",
    ]
    assert golden[3][0] == "image" and golden[3][2] == "img_1"

    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"])
                         for s in r["spans"]]
           for r in run(df).collect()}
    assert got["lm1"] == golden, run.__name__
