"""Adversarial parity fuzz: random strings over a hostile alphabet (unicode
whitespace, unicode digits, case-folding traps, partial markers) must
classify and clean identically in the pure-Python spec, the Catalyst mirror
and the fused Arrow kernel — this is what makes the oracle a valid golden
reference beyond the generator's dialect."""

import random

import pyspark.sql.functions as F

from vlm_ocr_doc_reader_spark.extraction import spec
from vlm_ocr_doc_reader_spark.extraction.oracle import extract_doc
from vlm_ocr_doc_reader_spark.operators.classify import classify
from vlm_ocr_doc_reader_spark.operators.fused import extract_batch

ALPHABET = list(
    "ab z.|!?-0159"
    "\t\n "
    "\xa0  "      # unicode whitespace (must NOT collapse)
    "٣১"          # arabic-indic / bengali digits (must NOT be \d)
    "абв"
    "İ\u212a"      # lowers to 'i' + U+0307 / to ASCII 'k' (Kelvin sign)
    "\u017f"       # long s: RE2's ignore_case folds it to 's'
    "\u3002\uff01"  # ideographic full stop, fullwidth '!': no sentence end
    "\uff5c\xa6"    # fullwidth '|', broken bar: no pipe
) + ["[[img_1]]", "[[tbl_", "]]", "@@bbox:", "@@bbox:1,2,3,4@@",
     "copyright", "all rights reserved", "|||", ". ",
     "COPYRIGHT", "Cookie", "PRIVACY POLİCY", "Coo\u212aie",
     "BAC\u212a TO TOP", "terms of \u017fervice"]


def _rows():
    rng = random.Random(1234)
    rows = []
    kinds = ["text", "heading", "image", "table", "boilerplate", "link"]
    for i in range(2500):
        s = "".join(rng.choice(ALPHABET)
                    for _ in range(rng.randint(0, 14)))
        rows.append((f"d{i % 10}", rng.choice(kinds), s,
                     rng.choice([None, "", "img_1"]), i))
    return rows


def test_unicode_fuzz_parity(spark):
    rows = _rows()
    df = spark.createDataFrame(
        rows,
        "doc_id string, kind string, text string, media_ref string, offset long")
    got = classify(df).select("kind", "text", "media_ref", "cleaned",
                              "anchors", "keep", "has_bbox").collect()
    bad = []
    for r in got:
        wo = spec.strip_bbox(r["text"])
        cleaned = spec.clean_text(wo)
        anchors = spec.extract_anchors(wo)
        mref = r["media_ref"] if r["media_ref"] else None
        keep = spec.classify_keep(r["kind"], cleaned, mref)
        if (r["cleaned"], list(r["anchors"]), r["keep"],
                r["has_bbox"]) != (cleaned, anchors, keep,
                                   spec.parse_bbox(r["text"]) is not None):
            bad.append((r["kind"], r["text"], r["cleaned"], cleaned,
                        r["keep"], keep))
    assert not bad, f"{len(bad)} divergences; first: {bad[0]!r}"


def test_unicode_fuzz_fused_kernel_parity():
    """The fused kernel, run over each fuzzed span as a one-span document,
    keeps and cleans exactly what the spec-built oracle does."""
    spans = [(kind, text, mref, 0) for _, kind, text, mref, _ in _rows()]
    got = extract_batch([[dict(zip(("kind", "text", "media_ref", "offset"),
                                   sp))] for sp in spans])
    bad = [(sp, g) for sp, g in zip(spans, got) if g != extract_doc([sp])]
    assert not bad, f"{len(bad)} divergences; first: {bad[0]!r}"
