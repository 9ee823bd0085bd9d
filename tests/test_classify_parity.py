"""The Arrow kernel's per-span stage must agree with the spec on every
input — this parity is what makes the oracle a valid golden reference.

Spark-free: ``fused._span_stage`` (cleaning, keep, bbox, anchors) and the
flat kept-span batch ``fused._kept_spans_batch`` are held to
``spec.strip_bbox``/``clean_text``/``classify_keep``/``parse_bbox``/
``extract_anchors``."""

import random

import numpy as np
import pyarrow as pa

from vlm_ocr_doc_reader_spark.extraction import spec
from vlm_ocr_doc_reader_spark.operators import fused

KINDS = ["text", "heading", "image", "table", "boilerplate", "link", "weird"]
TEXT_POOL = [
    None, "", "   ", "ok", "read more", "Next",
    "A proper sentence with enough words.",
    "Short.", "Two words", "Two words!",
    "copyright 2024 example corp", "All Rights Reserved",
    "Home | About | Products | Contact", "| | | |",
    "a | b and lots of other words to dilute the pipes here today",
    "Проверка значения реестра на странице.",
    "tabs\tand\nnewlines   collapse",
    "@@bbox:1,2,3,4@@boxed content span here.",
    "@@bbox:10,20,30,40@@",
    "@@bbox:99999999999999999999,0,5,1@@huge coordinate box here.",
    "inline [[img_7_1]] anchor span here.",
    "[[tbl_3_0]]", "dangling [[img_x]] ref.",
    "ends with bang!", "ends with q?",
    "trailing spaces   ",
]
MEDIA = [None, "", "img_1", "tbl_2"]
SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int64())])


def _pool_rows():
    """(doc_id, kind, text, media_ref, offset) over KINDS x TEXT_POOL x
    MEDIA, plus seeded word soup."""
    rng = random.Random(0)
    rows = []
    i = 0
    for kind in KINDS:
        for text in TEXT_POOL:
            for media in MEDIA:
                rows.append((f"d{i % 7}", kind, text, media, i))
                i += 1
    words = "the spark | data скан read more copyright . ! ?".split(" ")
    for _ in range(300):
        t = " ".join(rng.choice(words) for _ in range(rng.randint(1, 12)))
        rows.append((f"d{i % 7}", rng.choice(KINDS), t, rng.choice(MEDIA), i))
        i += 1
    return rows


def _batch(rows):
    """rows -> (doc_ids, spans list array, flat rows in list order)."""
    ids = sorted({r[0] for r in rows})
    by_doc = {d: [r for r in rows if r[0] == d] for d in ids}
    spans = pa.array([[dict(zip(("kind", "text", "media_ref", "offset"),
                                r[1:])) for r in by_doc[d]] for d in ids],
                     type=pa.list_(SPAN_TYPE))
    return pa.array(ids), spans, [r for d in ids for r in by_doc[d]]


def _spec_cleaned(text):
    return spec.clean_text(spec.strip_bbox(text))


def _spec_kept(flat):
    """The spec's kept spans of ``flat``, keyed by (doc_id, offset)."""
    out = {}
    for doc_id, kind, text, mref, off in flat:
        if kind is None or off is None:
            continue                      # P5 quarantine
        cleaned = _spec_cleaned(text)
        if spec.classify_keep(kind, cleaned, mref if mref else None):
            out[(doc_id, off)] = (kind, cleaned, mref if mref else None)
    return out


def _kernel_kept(doc_ids, spans):
    got = fused._kept_spans_batch(doc_ids, spans).to_pylist()
    out = {(r["doc_id"], r["offset"]): (r["kind"], r["cleaned"],
                                        r["media_ref"]) for r in got}
    assert len(out) == len(got), "a kept span appears twice"
    return out


def test_keep_parity_exhaustive_pool():
    doc_ids, spans, flat = _batch(_pool_rows())
    st = fused._span_stage(spans)
    for i, j in enumerate(st.sel.tolist()):
        _, kind, text, mref, _ = flat[j]
        cleaned = _spec_cleaned(text)
        assert st.cleaned[i].as_py() == cleaned, (text, cleaned)
        assert bool(st.keep[i]) == spec.classify_keep(
            kind, cleaned, mref if mref else None), (kind, text, mref)
    # every span the stage drops outright is boilerplate/link
    dropped = set(range(len(flat))) - set(st.sel.tolist())
    assert all(flat[j][1] in ("boilerplate", "link") for j in dropped)
    assert _kernel_kept(doc_ids, spans) == _spec_kept(flat)


def test_bbox_and_anchor_parsing_parity():
    rows = [("d", "text", t, None, i) for i, t in enumerate(TEXT_POOL) if t]
    _, spans, flat = _batch(rows)
    st = fused._span_stage(spans)
    assert st.sel.tolist() == list(range(len(flat)))
    every = np.arange(len(flat))
    anchors = st.anchors(every)
    for i, (box, (_, _, text, _, _)) in enumerate(zip(st.bboxes(every),
                                                      flat)):
        assert box == spec.parse_bbox(text), text
        assert anchors.get(i, []) == spec.extract_anchors(
            spec.strip_bbox(text)), text


def test_null_kind_or_offset_spans_give_no_kept_row():
    """P5: a span with a null offset or a null kind is quarantined by the
    kernel, so it gives no kept row (and no levels registry row), however
    keepable its text."""
    rows = [("d1", "text", "A valid sentence with id 1234567 here.", None, 0),
            ("d1", "text", "An orphan sentence with id 7654321 here.", None,
             None),
            ("d1", None, "A kindless sentence with id 1111111 here.", None,
             1),
            ("d2", "text", "Only an orphan span 2222222 lives here.", None,
             None)]
    doc_ids, spans, flat = _batch(rows)
    assert _kernel_kept(doc_ids, spans) == {
        ("d1", 0): ("text", "A valid sentence with id 1234567 here.", None)}
    assert _kernel_kept(doc_ids, spans) == _spec_kept(flat)


def test_unknown_null_kind_and_null_offset_spans_are_quarantined():
    """P5: an unknown kind ("blob"), a NULL kind and a NULL offset are
    quarantined by the kernel, whatever their text, and the valid span
    beside them is kept."""
    rows = [("d1", "text", "Good sentence here today.", None, 0),
            ("d1", "blob", "???", None, 1),
            ("d1", "blob", "A blob span with plenty of words here.", None,
             2),
            ("d1", "text", "x", None, None),
            ("d2", "text", "Good sentence here today.", None, 0),
            ("d2", None, "null kind span", None, 1)]
    doc_ids, spans, flat = _batch(rows)
    want = {(d, 0): ("text", "Good sentence here today.", None)
            for d in ("d1", "d2")}
    assert _kernel_kept(doc_ids, spans) == want == _spec_kept(flat)


def test_empty_batches_give_typed_empty_output():
    for doc_ids, spans in (
            (pa.array([], pa.string()), pa.array([], pa.list_(SPAN_TYPE))),
            (pa.array(["a", "b"]), pa.array([[], None],
                                            pa.list_(SPAN_TYPE)))):
        out = fused._kept_spans_batch(doc_ids, spans)
        assert out.num_rows == 0
        assert out.schema.names == list(fused._KEPT_COLUMNS)
