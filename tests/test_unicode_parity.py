"""Adversarial parity fuzz: random strings over a hostile alphabet (unicode
whitespace, unicode digits, case-folding traps, partial markers) must
classify and clean identically in the pure-Python spec and the fused Arrow
kernel, both its per-span stage and the whole extraction — this is what
makes the oracle a valid golden reference beyond the generator's
dialect."""

import random

import numpy as np
import pyarrow as pa

from vlm_ocr_doc_reader_spark.extraction import spec
from vlm_ocr_doc_reader_spark.extraction.oracle import extract_doc
from vlm_ocr_doc_reader_spark.operators import fused

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

SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int64())])


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


def test_unicode_fuzz_parity():
    """The kernel's per-span stage (cleaned text, anchors, keep, bbox) and
    its flat kept-span batch agree with the spec on every fuzzed span."""
    rows = _rows()
    ids = [f"d{d}" for d in range(10)]
    flat = [r for d in ids for r in rows if r[0] == d]
    spans = pa.array(
        [[dict(zip(("kind", "text", "media_ref", "offset"), r[1:]))
          for r in rows if r[0] == d] for d in ids],
        type=pa.list_(SPAN_TYPE))
    st = fused._span_stage(spans)
    every = np.arange(len(st.sel))
    anchors, boxes = st.anchors(every), st.bboxes(every)
    bad, want_kept = [], set()
    for i, j in enumerate(st.sel.tolist()):
        doc_id, kind, text, mref, off = flat[j]
        wo = spec.strip_bbox(text)
        cleaned = spec.clean_text(wo)
        keep = spec.classify_keep(kind, cleaned, mref if mref else None)
        if keep:
            want_kept.add((doc_id, off, cleaned))
        if (st.cleaned[i].as_py(), anchors.get(i, []), bool(st.keep[i]),
                boxes[i]) != (cleaned, spec.extract_anchors(wo), keep,
                              spec.parse_bbox(text)):
            bad.append((kind, text, st.cleaned[i].as_py(), cleaned,
                        bool(st.keep[i]), keep))
    assert not bad, f"{len(bad)} divergences; first: {bad[0]!r}"
    got = fused._kept_spans_batch(pa.array(ids), spans).to_pylist()
    assert {(r["doc_id"], r["offset"], r["cleaned"]) for r in got} \
        == want_kept and len(got) == len(want_kept)


def test_unicode_fuzz_fused_kernel_parity():
    """The fused kernel, run over each fuzzed span as a one-span document,
    keeps and cleans exactly what the spec-built oracle does."""
    spans = [(kind, text, mref, 0) for _, kind, text, mref, _ in _rows()]
    out = fused._extract_arrow_batch(pa.array(range(len(spans))), pa.array(
        [[dict(zip(("kind", "text", "media_ref", "offset"), sp))]
         for sp in spans], type=pa.list_(SPAN_TYPE)))
    got = [[(d["kind"], d["text"], d["media_ref"], d["order"]) for d in row]
           for row in out.to_pylist()]
    bad = [(sp, g) for sp, g in zip(spans, got) if g != extract_doc([sp])]
    assert not bad, f"{len(bad)} divergences; first: {bad[0]!r}"
