"""Kernel microbench, no Spark: the fused extraction kernel on fixed
batches, and the pure-Python slow-doc ordering on the slow batch.

* ``fused.kernel_fast_s``: ``operators.fused._extract_arrow_batch`` on
  ``BATCH_DOCS`` docs of the text slice (mega docs left out, so the batch
  is a typical Arrow batch of fast docs);
* ``fused.kernel_slow_s``: the same call on ``BATCH_DOCS`` docs of the
  layout slice, every one a slow doc;
* ``extraction.order_kept_s``: ``oracle.order_kept`` over the slow batch's
  kept groups;
* ``extraction.xy_cut_s``: ``spec.xy_cut_order`` over the bbox lists of
  the slow batch's layout groups.

The kept groups are prepared with the public ``spec`` functions before
any timing starts; each repetition gets its own copy because
``order_kept`` sorts and annotates its argument in place.
"""

from __future__ import annotations

import copy
import statistics

import pyarrow.parquet as pq

from vlm_ocr_doc_reader_spark.extraction import spec
from vlm_ocr_doc_reader_spark.extraction.oracle import order_kept
from vlm_ocr_doc_reader_spark.operators.fused import _extract_arrow_batch

from host import wall
from inputs import MEGA_SPANS

BATCH_DOCS = 4_000
REPS = 3


def _batch(path: str, keep_mega: bool):
    t = pq.read_table(path)
    ids = t.column("doc_id").combine_chunks()
    spans = t.column("spans").combine_chunks()
    lengths = spans.value_lengths().to_numpy(zero_copy_only=False)
    rows = [i for i in range(len(t)) if keep_mega or lengths[i] < MEGA_SPANS]
    rows = rows[:BATCH_DOCS]
    return ids.take(rows), spans.take(rows)


def kept_group(spans) -> list[dict]:
    """One doc's raw spans -> the classified, offset-sorted kept spans in
    the shape ``order_kept`` takes."""
    kept = []
    for s in sorted((s for s in spans
                     if s["offset"] is not None and s["kind"] is not None),
                    key=lambda s: s["offset"]):
        text = s["text"]
        wo_bbox = spec.strip_bbox(text)
        cleaned = spec.clean_text(wo_bbox)
        mref = s["media_ref"] or None
        if spec.classify_keep(s["kind"], cleaned, mref):
            kept.append({"kind": s["kind"], "text": cleaned,
                         "media_ref": mref, "offset": int(s["offset"]),
                         "bbox": spec.parse_bbox(text),
                         "anchors": spec.extract_anchors(wo_bbox)})
    return kept


def is_slow_group(kept: list[dict]) -> bool:
    return bool(kept) and (
        any(s["kind"] in ("image", "table") for s in kept)
        or all(s["bbox"] is not None for s in kept))


def _median_time(fn, reps: int = REPS, prepare=None) -> float:
    times = []
    for _ in range(reps):
        arg = prepare() if prepare is not None else None
        t0 = wall()
        fn(arg)
        times.append(wall() - t0)
    return statistics.median(times)


def run(text_input: str, layout_input: str, tracer) -> dict:
    fast_ids, fast_spans = _batch(text_input, keep_mega=False)
    slow_ids, slow_spans = _batch(layout_input, keep_mega=True)
    raw = fast_spans.to_pylist() + slow_spans.to_pylist()
    all_groups = [kept_group(s) for s in raw]
    slow_groups = [g for g in all_groups[len(fast_spans):] if g]
    boxes = [[s["bbox"] for s in g] for g in slow_groups
             if all(s["bbox"] is not None for s in g)]
    out = {
        "fused.spans_in": sum(map(len, raw)),
        "fused.docs_slow": sum(map(is_slow_group, all_groups)),
        "fused.docs_fast": sum(1 for g in all_groups
                               if g and not is_slow_group(g)),
    }
    spans_out = 0
    for name, ids, spans in (("fast", fast_ids, fast_spans),
                             ("slow", slow_ids, slow_spans)):
        with tracer.span(f"kernel.{name}", "operators.fused"):
            out[f"fused.kernel_{name}_s"] = _median_time(
                lambda _: _extract_arrow_batch(ids, spans))
        spans_out += len(_extract_arrow_batch(ids, spans).flatten())
    out["fused.spans_out"] = spans_out
    with tracer.span("order_kept", "extraction"):
        out["extraction.order_kept_s"] = _median_time(
            lambda gs: [order_kept(g) for g in gs],
            prepare=lambda: copy.deepcopy(slow_groups))
    with tracer.span("xy_cut", "extraction"):
        out["extraction.xy_cut_s"] = _median_time(
            lambda _: [spec.xy_cut_order(b) for b in boxes])
    return out
