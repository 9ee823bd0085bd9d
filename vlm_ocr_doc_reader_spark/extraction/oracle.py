"""Single-node pure-Python oracle for the extraction pipeline.

Produces the golden output the distributed Spark pipeline must match exactly
(span-sequence equality on (kind, text, media_ref, order) per doc_id —
BASELINE.json).  Shares every rule with the Spark path via
``extraction.spec``; no Spark imports here.

Reference parity: this plays the role of the reference's three-level
scan→resolve→verify pipeline collapsed into one deterministic pass
(/root/reference/00_docs/architecture/decision_001_resolution_levels.md:15-48)
— scan == classify_keep, resolve == media-anchor reconciliation, reading
order == XY-cut (the reference's implicit page order, renderer.py:89-90).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from . import spec

# input span:  (kind, text, media_ref, offset)
# output span: (kind, text, media_ref, order)
InSpan = Tuple[str, Optional[str], Optional[str], int]
OutSpan = Tuple[str, str, Optional[str], int]


def extract_doc(spans: List[InSpan]) -> List[OutSpan]:
    """Extract the ordered main-content span sequence of one document.

    The ``offset`` field IS the span's document position (input_hint), so
    the input is canonicalized to offset order first — the spans ARRAY
    order carries no meaning.  This pins first-occurrence semantics
    (e.g. which duplicate media_ref span is primary) to offsets, making
    every execution strategy agree on inputs whose array order is shuffled
    (found by tests/test_adversarial_fuzz.py).
    """
    # 0. quarantine (P5) + canonical offset order
    spans = sorted(
        (s for s in spans if s[3] is not None and s[0] is not None),
        key=lambda s: s[3])
    # 1. parse + clean + classify
    kept = []  # dicts with kind, cleaned, media_ref, offset, bbox, anchors
    for kind, text, media_ref, offset in spans:
        if kind == "boilerplate" or kind == "link":
            continue  # classify_keep drops these for ANY cleaned text —
            #            skipping the parse/clean work is behavior-identical
        offset = int(offset)
        bbox = spec.parse_bbox(text)
        wo_bbox = spec.strip_bbox(text)
        anchors = spec.extract_anchors(wo_bbox)
        cleaned = spec.clean_text(wo_bbox)
        mref = media_ref if media_ref else None
        if spec.classify_keep(kind, cleaned, mref):
            kept.append({
                "kind": kind, "text": cleaned, "media_ref": mref,
                "offset": offset, "bbox": bbox, "anchors": anchors,
            })
    return order_kept(kept)


def order_kept(kept: List[dict]) -> List[OutSpan]:
    """Steps 2-4 of the extraction on ALREADY-classified spans: reading
    rank (XY-cut / offset), media-anchor reconciliation, final ordering.

    ``kept``: dicts with kind, text (cleaned), media_ref (None-normalized),
    offset (int), bbox (tuple|None), anchors (list) — MUST already be
    offset-sorted and classification-filtered.  This is the single
    implementation of ordering semantics: the oracle and the Arrow kernel
    (``operators.fused``, for its slow docs) call THIS function, so the
    per-doc stage cannot drift between them."""
    if not kept:
        return []

    # 2. reading rank: XY-cut when every kept span carries a bbox (layout
    #    doc), else input offset order.
    if all(s["bbox"] is not None for s in kept):
        perm = spec.xy_cut_order([s["bbox"] for s in kept])
        for rank, i in enumerate(perm):
            kept[i]["rank"] = rank
    else:
        for s in kept:
            s["rank"] = s["offset"]

    # 3. media-anchor reconciliation: the first (by host rank, then anchor
    #    position) anchor claiming a media_ref pulls that media span to sit
    #    right after the host span.
    media_by_ref: Dict[str, dict] = {}
    for s in kept:
        if s["kind"] in ("image", "table") and s["media_ref"] not in media_by_ref:
            media_by_ref[s["media_ref"]] = s
    claims: Dict[str, Tuple[int, int]] = {}  # media_ref -> (host_rank, anchor_pos)
    for s in kept:
        if s["kind"] in ("image", "table"):
            continue
        for pos, ref in enumerate(s["anchors"]):
            if ref in media_by_ref:
                cur = claims.get(ref)
                cand = (s["rank"], pos)
                if cur is None or cand < cur:
                    claims[ref] = cand

    def sort_key(s: dict) -> Tuple[int, int, int, int]:
        if s["kind"] in ("image", "table"):
            claim = claims.get(s["media_ref"])
            if claim is not None and media_by_ref[s["media_ref"]] is s:
                return (claim[0], 1, claim[1], s["offset"])
            return (s["rank"], 0, 0, s["offset"])
        return (s["rank"], 0, 0, s["offset"])

    kept.sort(key=sort_key)
    return [(s["kind"], s["text"], s["media_ref"], i)
            for i, s in enumerate(kept)]


def extract_corpus(docs) -> Dict[str, List[OutSpan]]:
    """docs: iterable of (doc_id, [InSpan...]) -> {doc_id: [OutSpan...]}."""
    return {doc_id: extract_doc(spans) for doc_id, spans in docs}
