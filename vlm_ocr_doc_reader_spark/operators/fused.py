"""Fused per-document extraction: the Arrow kernel.

``fused_extract_rows`` is a zero-shuffle ``mapInArrow`` over the
whole-document rows the input table already holds:

    scan -> Arrow batch -> _extract_arrow_batch (Arrow kernel) -> write

Each row is one document, so the grouping the declarative pipeline
(`operators/ordering` + `reconcile` + `assemble`) rebuilds with joins,
windows and exchanges is free here.  The kernel runs the per-span stage
(quarantine, bbox strip, cleaning, keep classification) in Arrow C++
kernels; only documents that need reading-order work (media claims, full
bbox cover for XY-cut) go through the shared pure-Python rules
(`spec.xy_cut_order`, ``oracle.order_kept``).  Golden, adversarial and
strategy-equality tests hold it to the oracle.  A mega doc is one row of
one Arrow batch, as it is one row of the scan; ``plans.extract.extract`` is
this map for every document, whatever its size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..extraction import spec

_NESTED_SCHEMA = ("doc_id string, spans array<struct<kind:string,"
                  "text:string,media_ref:string,order:int>>")
# the extract command's output files: the nested rows plus the run that
# wrote them.  Reading them back with this schema (not mergeSchema) costs
# no footer-merge job; legacy files without run_id read it as null.
RUN_OUTPUT_SCHEMA = _NESTED_SCHEMA + ", run_id string"


# --- RE2-safe twins of the spec regexes (Arrow compute kernels run RE2,
# --- not Python sre).  Divergence hazards handled explicitly:
# ---   * Python re.ASCII \s == [ \t\n\r\f\v]; RE2 \s LACKS \v -> spell the
# ---     class out;
# ---   * Python re.ASCII \d == [0-9]; RE2 \d is [0-9] by default but the
# ---     explicit class removes any doubt;
# ---   * extract_regex needs named groups.
# --- Parity with the sre originals is enforced by the strategy-equality,
# --- golden, adversarial-fuzz, and unicode-parity suites.
_BBOX_RE2 = (r"^@@bbox:(?P<x0>[0-9]+),(?P<y0>[0-9]+),"
             r"(?P<x1>[0-9]+),(?P<y1>[0-9]+)@@")
_BBOX_RE2_SUB = r"^@@bbox:[0-9]+,[0-9]+,[0-9]+,[0-9]+@@"
_ANCHOR_RE2 = spec.ANCHOR_RE          # no \s/\d classes — RE2-identical
_NAV_RE2 = spec.NAV_RE                # escaped ASCII literals
# every ASCII-whitespace run except a lone " ", which is already collapsed:
# a run starting with [\t\n\r\f\v], or a space followed by more whitespace.
# Skipping lone spaces is most of the collapse's time on prose.
_WS_RE2 = r"[\t\n\r\f\v][ \t\n\r\f\v]*| [ \t\n\r\f\v]+"


_OUT_STRUCT_FIELDS = [("kind", "string"), ("text", "string"),
                      ("media_ref", "string"), ("order", "int32")]


def _out_struct_type():
    import pyarrow as pa
    return pa.struct([(n, pa.type_for_alias(t))
                      for n, t in _OUT_STRUCT_FIELDS])


def _extract_arrow_batch(doc_ids, spans):
    """One Arrow RecordBatch column pair -> the OUTPUT spans column: a
    ``pa.ListArray`` with one ``list<struct<kind,text,media_ref,order>>``
    row per input doc (empty list when nothing survives).

    The per-SPAN stage (quarantine, bbox parse/strip, cleaning, keep
    classification) runs entirely in Arrow C++ kernels over the flattened
    span table — no Python object materializes for a span that
    classification drops.  The per-DOC stage is vectorized too: docs are
    classified fast/slow with ``np.add.reduceat`` over the (parent,
    offset)-sorted kept rows, FAST docs (no media span, no full bbox
    cover — for them the order IS the offset order) never materialize a
    Python object at all (their output columns are Arrow ``take``s of the
    kept arrays), and only SLOW docs (media reconciliation / XY-cut)
    convert to Python and run the shared ``oracle.order_kept`` — ordering
    has exactly one implementation.  The two pools are interleaved back
    to doc order with one computed ``take``; the old shape built a Python
    tuple per span, then a dict per span, then re-parsed them with
    ``pa.array`` — the dominant cost of the whole stage at bench scale."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..extraction.oracle import order_kept

    n_docs = len(doc_ids)
    out_struct = _out_struct_type()

    def _empty_all():
        return pa.ListArray.from_arrays(
            pa.array(np.zeros(n_docs + 1, dtype=np.int32)),
            pa.array([], type=out_struct))

    if n_docs == 0:
        return _empty_all()
    if isinstance(spans, pa.ChunkedArray):
        spans = spans.combine_chunks()
    parent = pc.list_parent_indices(spans).to_numpy(zero_copy_only=False)
    flat = spans.flatten()
    if len(flat) == 0:
        return _empty_all()
    kind = flat.field("kind")
    text = flat.field("text")
    mref = flat.field("media_ref")
    off = flat.field("offset")

    # quarantine (P5: null kind/offset) + outright boiler/link drop
    mask = pc.and_kleene(
        pc.and_kleene(pc.is_valid(kind), pc.is_valid(off)),
        pc.invert(pc.fill_null(
            pc.is_in(kind, value_set=pa.array(["boilerplate", "link"])),
            True)))
    mask = pc.fill_null(mask, False)
    sel = np.flatnonzero(mask.to_numpy(zero_copy_only=False))
    if len(sel) == 0:
        return _empty_all()
    idx = pa.array(sel)
    kind, text, mref, off = (c.take(idx) for c in (kind, text, mref, off))
    parent = parent[sel]

    t = pc.coalesce(text, "")
    bbox_grp = pc.extract_regex(t, _BBOX_RE2)
    wo = pc.replace_substring_regex(t, _BBOX_RE2_SUB, "")
    cleaned = pc.utf8_trim(
        pc.replace_substring_regex(
            pc.replace_substring_regex(wo, _ANCHOR_RE2, " "),
            _WS_RE2, " "),
        spec._ASCII_WS)

    # classification (spec.classify_keep, kernel form)
    nonempty = pc.not_equal(cleaned, "")
    mref_ok = pc.fill_null(pc.not_equal(mref, ""), False)
    is_media = pc.is_in(kind, value_set=pa.array(["image", "table"]))
    keep = pc.and_(is_media, mref_ok)
    keep = pc.or_(keep, pc.and_(pc.equal(kind, "heading"), nonempty))
    # U+0130 'İ' is the one code point str.lower() and utf8_lower disagree
    # on: 'i' + U+0307 against a bare 'i', which can complete a NAV phrase.
    low = pc.utf8_lower(pc.replace_substring(cleaned, "\u0130", "i\u0307"))
    nav = pc.match_substring_regex(low, _NAV_RE2)
    nwords = pc.add(pc.count_substring(cleaned, " "), 1)
    pipes = pc.count_substring(cleaned, "|")
    ends = pc.is_in(pc.utf8_slice_codeunits(cleaned, start=-1, stop=2**30),
                    value_set=pa.array(list(spec.SENTENCE_END)))
    text_keep = pc.and_(pc.and_(pc.equal(kind, "text"), nonempty),
                        pc.and_(pc.invert(nav), pc.and_(
                            pc.invert(pc.greater(
                                pc.cast(pipes, "double"),
                                pc.multiply(pc.cast(nwords, "double"),
                                            spec.PIPE_RATIO))),
                            pc.or_(pc.greater_equal(nwords,
                                                    spec.MIN_WORDS),
                                   ends))))
    keep = pc.or_(keep, text_keep)

    kept = np.flatnonzero(pc.fill_null(keep, False).to_numpy(
        zero_copy_only=False))
    if len(kept) == 0:
        return _empty_all()
    kidx = pa.array(kept)

    # kept columns stay Arrow arrays (fast docs never touch Python)
    kind_k = kind.take(kidx)
    clean_k = cleaned.take(kidx)
    mref_k = mref.take(kidx)
    # output media_ref normalization: '' -> null (null cond propagates null)
    mref_out = pc.if_else(pc.equal(mref_k, ""),
                          pa.scalar(None, pa.string()), mref_k)
    k_off = off.take(kidx).to_numpy(zero_copy_only=False).astype("int64")
    k_parent = parent[kept]
    bb = bbox_grp.take(kidx)
    bb_valid = pc.is_valid(bb).to_numpy(zero_copy_only=False)
    is_media_k = pc.is_in(kind_k, value_set=pa.array(["image", "table"])) \
        .to_numpy(zero_copy_only=False)

    # group by doc: (parent, offset)-sorted kept rows, one segment per doc
    order = np.lexsort((k_off, k_parent))
    sorted_parent = k_parent[order]
    starts = np.concatenate(
        ([0], np.flatnonzero(np.diff(sorted_parent)) + 1))
    lens = np.diff(np.concatenate((starts, [len(order)])))
    gdoc = sorted_parent[starts].astype(np.int64)
    has_media = np.add.reduceat(
        is_media_k[order].astype(np.int8), starts) > 0
    all_bbox = np.add.reduceat(
        bb_valid[order].astype(np.int8), starts) == lens
    slow = has_media | all_bbox

    # FAST pool: kept rows of fast docs in segment order; output order is
    # the within-segment position (rank == offset order by construction)
    fast_rows = np.repeat(~slow, lens)
    fast_idx = order[fast_rows]
    fast_lens = lens[~slow]
    if len(fast_idx):
        fstarts = np.concatenate(
            ([0], np.cumsum(fast_lens[:-1], dtype=np.int64)))
        forder = (np.arange(len(fast_idx), dtype=np.int64)
                  - np.repeat(fstarts, fast_lens)).astype(np.int32)
    else:
        fstarts = np.zeros(0, dtype=np.int64)
        forder = np.zeros(0, dtype=np.int32)
    fidx = pa.array(fast_idx)
    kind_f, text_f, mref_f = (c.take(fidx)
                              for c in (kind_k, clean_k, mref_out))

    # SLOW pool (media claims / XY-cut): Python objects for exactly these
    # rows; bbox numeric casts and anchor findall run on the slow subset
    # only
    s_kind_l, s_text_l, s_mref_l, s_order_l = [], [], [], []
    slow_out_lens = np.zeros(int(slow.sum()), dtype=np.int64)
    if slow.any():
        slow_rows = np.repeat(slow, lens)
        slow_idx = order[slow_rows]
        slow_lens = lens[slow]
        sl = pa.array(slow_idx)
        sk_kind = kind_k.take(sl).to_pylist()
        sk_clean = clean_k.take(sl).to_pylist()
        sk_mref = mref_k.take(sl).to_pylist()
        sk_off = k_off[slow_idx]
        sk_bb_valid = bb_valid[slow_idx]
        bb_s = bb.take(sl)
        bb_valid_a = pc.is_valid(bb_s)
        # (non-matching rows are struct-null but their CHILD slots hold ""
        # — mask to a parseable sentinel before the cast)
        bb_f = [pc.cast(pc.if_else(bb_valid_a, bb_s.field(g), "-1"),
                        "int64").to_numpy(zero_copy_only=False)
                for g in ("x0", "y0", "x1", "y1")]
        # anchors exist only where the pre-bbox-stripped text contains
        # '[[' — materialize Python strings for exactly those spans
        k_wo_arr = wo.take(kidx).take(sl)
        anch_mask = pc.match_substring(k_wo_arr, "[[").to_numpy(
            zero_copy_only=False)
        anch_rows = np.flatnonzero(anch_mask)
        anch_map = {int(i): spec._anchor_c.findall(s) for i, s in zip(
            anch_rows, k_wo_arr.take(pa.array(anch_rows)).to_pylist())} \
            if len(anch_rows) else {}
        pos0 = 0
        for gi, glen in enumerate(map(int, slow_lens)):
            group = []
            for pos in range(pos0, pos0 + glen):
                m = sk_mref[pos]
                group.append({
                    "kind": sk_kind[pos],
                    "text": sk_clean[pos],
                    "media_ref": m if m else None,
                    "offset": int(sk_off[pos]),
                    "bbox": ((int(bb_f[0][pos]), int(bb_f[1][pos]),
                              int(bb_f[2][pos]), int(bb_f[3][pos]))
                             if sk_bb_valid[pos] else None),
                    "anchors": anch_map.get(pos, []),
                })
            pos0 += glen
            res = order_kept(group)
            slow_out_lens[gi] = len(res)
            for k, tx, m, o in res:
                s_kind_l.append(k)
                s_text_l.append(tx)
                s_mref_l.append(m)
                s_order_l.append(o)

    # interleave the two pools back to doc order with ONE computed take
    counts = np.zeros(n_docs, dtype=np.int64)
    counts[gdoc[~slow]] = fast_lens
    counts[gdoc[slow]] = slow_out_lens
    src_start = np.zeros(n_docs, dtype=np.int64)
    src_start[gdoc[~slow]] = fstarts
    if slow.any():
        sstarts = np.concatenate(
            ([0], np.cumsum(slow_out_lens[:-1], dtype=np.int64)))
        src_start[gdoc[slow]] = len(fast_idx) + sstarts
    offsets = np.concatenate(
        ([0], np.cumsum(counts, dtype=np.int64))).astype(np.int32)
    take_idx = (np.arange(int(offsets[-1]), dtype=np.int64)
                - np.repeat(offsets[:-1].astype(np.int64), counts)
                + np.repeat(src_start, counts))
    kind_pool = pa.concat_arrays(
        [kind_f.cast(pa.string()), pa.array(s_kind_l, type=pa.string())])
    text_pool = pa.concat_arrays(
        [text_f.cast(pa.string()), pa.array(s_text_l, type=pa.string())])
    mref_pool = pa.concat_arrays(
        [mref_f.cast(pa.string()), pa.array(s_mref_l, type=pa.string())])
    order_pool = pa.concat_arrays(
        [pa.array(forder, type=pa.int32()),
         pa.array(s_order_l, type=pa.int32())])
    struct_pool = pa.StructArray.from_arrays(
        [kind_pool, text_pool, mref_pool, order_pool],
        names=[n for n, _ in _OUT_STRUCT_FIELDS])
    child = struct_pool.take(pa.array(take_idx))
    return pa.ListArray.from_arrays(pa.array(offsets), child)


def extract_batch(spans_lists: list) -> list:
    """Vectorized batch extraction over plain Python span lists (one per
    doc) — converts to Arrow once and runs ``_extract_arrow_batch``.
    Returns a list of OutSpan-tuple lists.  Kept as the Python-side entry
    for tests; the Spark path feeds Arrow batches directly (zero object
    churn for dropped spans)."""
    import pyarrow as pa
    lt = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                             ("media_ref", pa.string()),
                             ("offset", pa.int64())]))
    spans = pa.array(
        [None if sp is None else
         [{"kind": s["kind"], "text": s["text"],
           "media_ref": s["media_ref"], "offset": s["offset"]} for s in sp]
         for sp in spans_lists], type=lt)
    out = _extract_arrow_batch(list(range(len(spans_lists))), spans)
    return [[(d["kind"], d["text"], d["media_ref"], d["order"])
             for d in row] for row in out.to_pylist()]


def fused_extract_rows(documents: DataFrame) -> DataFrame:
    """(doc_id, spans) -> (doc_id, spans) with ZERO shuffle.

    The input table already co-locates each document's spans in one row —
    the grouping the declarative path reconstructs with an exchange is free
    here.  So the scale plan is a pure ``mapInArrow`` map: scan -> Arrow
    batch -> kernel-vectorized batch extraction (``_extract_arrow_batch``)
    -> write.  Embarrassingly parallel, no exchange, no skew (a mega doc is
    one row; Arrow batch size bounds worker memory).  Rows map 1:1, so
    empty/all-boilerplate docs keep their row with an empty spans array
    (the judged contract).
    """
    import pyarrow as pa

    def batches(it):
        for rb in it:
            doc_ids = rb.column(0)
            spans_out = _extract_arrow_batch(doc_ids, rb.column(1))
            yield pa.RecordBatch.from_arrays([doc_ids, spans_out],
                                             names=["doc_id", "spans"])

    return documents.select("doc_id", "spans").mapInArrow(
        batches, schema=_NESTED_SCHEMA)
