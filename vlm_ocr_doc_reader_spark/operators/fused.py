"""Per-document extraction: the Arrow kernel, the engine's one
implementation of span classification, cleaning and ordering.

``fused_extract_rows`` is a zero-shuffle ``mapInArrow`` over the
whole-document rows the input table already holds:

    scan -> Arrow batch -> _extract_arrow_batch (Arrow kernel) -> write

Each row is one document, so the per-document grouping is free.  The
kernel's per-span stage (``_span_stage``: quarantine, bbox strip, cleaning,
keep classification) runs in Arrow C++ kernels and numpy byte tests over
the UTF-8 buffers; only documents that need reading-order work (media
claims, full bbox cover for XY-cut) go through the shared pure-Python rules
(`spec.xy_cut_order`, ``oracle.order_kept``).  ``fused_kept_spans`` is the
same per-span stage as a flat map, one row per kept span, for the
consumers that need classified spans instead of ordered documents (the
levels plane and ``describe``).  Golden, adversarial and kernel-parity
tests hold both to the oracle.  A mega doc is one row of one Arrow batch,
as it is one row of the scan; ``plans.extract.extract`` is this map for
every document, whatever its size.
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


# --- Byte-level tests on the UTF-8 buffers.  UTF-8 encodes every code
# --- point above U+007F as bytes >= 0x80 only, so an ASCII byte (space,
# --- '|', '.', '[', '@', a whitespace control) in a string's UTF-8 is that
# --- character and never part of another one: counting, finding or
# --- testing ASCII bytes is exact on the code-point string.  A multi-byte
# --- code point is found the same way by its whole byte sequence (C4 B0 is
# --- U+0130), since a lead byte starts a sequence and nothing else.
_SENTENCE_END = "".join(spec.SENTENCE_END).encode("ascii")
# the code points where RE2's ignore_case and str.lower() disagree on an
# ASCII letter: RE2 folds U+017F 'ſ' to 's', str.lower() maps U+0130 'İ'
# to 'i' + U+0307 (both 2-byte sequences, C5 BF and C4 B0)
_FOLD_DIFFERS = "\u0130\u017f"


def _utf8(arr):
    """(offsets, data) of a null-free string array as numpy arrays: the
    ``len(arr) + 1`` string boundaries, relative to the first string, and a
    view of exactly those strings' bytes.  Honours ``arr.offset``
    (flattened children of sliced lists are windows into their buffers);
    ``large_string`` has 64-bit offsets."""
    import numpy as np
    import pyarrow as pa

    if pa.types.is_string(arr.type):
        width = np.int32
    elif pa.types.is_large_string(arr.type):
        width = np.int64
    else:
        raise TypeError(f"expected a string array, got {arr.type}")
    if len(arr) == 0:
        return np.zeros(1, dtype=np.int64), np.zeros(0, dtype=np.uint8)
    _, obuf, dbuf = arr.buffers()
    offs = np.frombuffer(obuf, dtype=width, count=len(arr) + 1,
                         offset=arr.offset * np.dtype(width).itemsize)
    data = (np.frombuffer(dbuf, dtype=np.uint8) if dbuf is not None
            else np.zeros(0, dtype=np.uint8))
    return offs.astype(np.int64) - offs[0], data[offs[0]:offs[-1]]


def _byte_counts(offs, data, byte):
    """Occurrences of ``byte`` in each string."""
    import numpy as np
    return np.diff(np.searchsorted(np.flatnonzero(data == byte), offs))


def _rows_at(offs, pos):
    """The strings (ascending, once each) holding the byte positions
    ``pos``."""
    import numpy as np
    return np.unique(np.searchsorted(offs, pos, side="right") - 1)


def _pairs(data, first, second):
    """Positions where byte ``first`` is followed by byte ``second``."""
    import numpy as np
    pos = np.flatnonzero(data[:-1] == first)
    return pos[data[pos + 1] == second]


def _ws_run_starts(data):
    """Start positions of what ``_WS_RE2`` rewrites: a tab, newline, VT,
    FF or CR byte, or a space followed by an ASCII whitespace byte."""
    import numpy as np
    ctl = (data >= 0x09) & (data <= 0x0D)
    space = data == 0x20
    run = space[:-1] & (space[1:] | ctl[1:])
    return np.union1d(np.flatnonzero(ctl), np.flatnonzero(run))


def _rows_starting_with(offs, data, prefix: bytes):
    """The strings (ascending) that start with ``prefix``."""
    import numpy as np
    rows = np.flatnonzero(np.diff(offs) >= len(prefix))
    for i, byte in enumerate(prefix):
        rows = rows[data[offs[rows] + i] == byte]
    return rows


def _with_rows(arr, rows, new):
    """``arr`` with its rows ``rows`` (ascending) replaced by ``new``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if len(rows) == len(arr):
        return new
    mask = np.zeros(len(arr), dtype=bool)
    mask[rows] = True
    return pc.replace_with_mask(arr, pa.array(mask), new)


def _is_in(arr, values):
    """``arr`` in ``values`` as a numpy bool array; null is False."""
    import pyarrow as pa
    import pyarrow.compute as pc
    return pc.fill_null(pc.is_in(arr, value_set=pa.array(values)),
                        False).to_numpy(zero_copy_only=False)


_OUT_STRUCT_FIELDS = [("kind", "string"), ("text", "string"),
                      ("media_ref", "string"), ("order", "int32")]


def _out_struct_type():
    import pyarrow as pa
    return pa.struct([(n, pa.type_for_alias(t))
                      for n, t in _OUT_STRUCT_FIELDS])


class _Spans:
    """The per-span stage's result over one batch's flattened span table
    (``_span_stage``).

    Its rows are the spans that survive the quarantine and the
    boilerplate/link drop: row ``i`` is span ``sel[i]`` of the flattened
    input and belongs to doc ``parent[i]`` of the batch.  ``kind`` and
    ``mref`` are the flattened input columns, read through ``sel``;
    ``offset``, ``cleaned``, ``keep``, ``is_media`` and ``bb_valid`` are
    per row.  Bbox coordinates and anchors are materialized only for the
    rows that need them (``bboxes``, ``anchors``)."""

    __slots__ = ("parent", "sel", "kind", "mref", "offset", "cleaned",
                 "keep", "is_media", "bb_valid", "bbox_grp", "dirty_at",
                 "dirty_wo")

    def bboxes(self, rows):
        """``spec.parse_bbox`` of each row in ``rows``: an (x0, y0, x1, y1)
        tuple of Python ints, or None.  ``spec.BBOX_RE`` bounds no
        coordinate, so a group that does not fit int64 goes through
        ``int()``."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        out = [None] * len(rows)
        pos = np.flatnonzero(self.bb_valid[rows])
        if len(pos):
            grp = self.bbox_grp.take(pa.array(self.dirty_at[rows[pos]]))
            coords = []
            for name in ("x0", "y0", "x1", "y1"):
                digits = grp.field(name)
                try:
                    coords.append(pc.cast(digits, "int64").to_numpy(
                        zero_copy_only=False).tolist())
                except pa.ArrowInvalid:
                    coords.append([int(d) for d in digits.to_pylist()])
            for p, box in zip(pos.tolist(), zip(*coords)):
                out[p] = box
        return out

    def anchors(self, rows):
        """``{i: spec.extract_anchors(...)}`` for the positions ``i`` in
        ``rows`` whose span holds an anchor.  Anchors exist only in dirty
        rows holding '[[', so Python strings materialize for those alone."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        pos = np.flatnonzero(self.dirty_at[rows] >= 0)
        wo = self.dirty_wo.take(pa.array(self.dirty_at[rows[pos]]))
        has = pc.match_substring(wo, "[[")
        return dict(zip(
            pos[has.to_numpy(zero_copy_only=False)].tolist(),
            map(spec._anchor_c.findall, wo.filter(has).to_pylist())))


def _span_stage(spans):
    """The kernel's per-SPAN stage over one batch's ``spans`` list array:
    quarantine (P5: null kind or offset), the boilerplate/link drop, bbox
    detection and strip, cleaning and keep classification, in Arrow C++
    kernels and numpy.  No Python object materializes for a span.  Returns
    a ``_Spans``, or None when no span survives the quarantine.

    * each cleaning regex runs only on the rows holding a literal
      trigger, found in the UTF-8 bytes: a ``@@bbox:`` prefix, ``[[``, or
      the start of a whitespace run ``_WS_RE2`` rewrites.  On prose most
      rows hold none and are passed through untouched;
    * words (spaces + 1), pipes and the sentence end (the last byte is
      ``.``, ``!`` or ``?``) are byte tests on the cleaned UTF-8 buffers:
      an ASCII byte never occurs inside a multi-byte UTF-8 sequence, so
      each equals its code-point form in ``spec.classify_keep``;
    * NAV phrases match with RE2's ``ignore_case``, except on rows holding
      U+0130 or U+017F, the two code points where RE2's case folding and
      ``str.lower()`` disagree; those rows lowercase first."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(spans, pa.ChunkedArray):
        spans = spans.combine_chunks()
    parent = pc.list_parent_indices(spans).to_numpy(zero_copy_only=False)
    flat = spans.flatten()
    if len(flat) == 0:
        return None
    kind = flat.field("kind")
    text = flat.field("text")
    mref = flat.field("media_ref")
    off = flat.field("offset")

    # quarantine (P5: null kind/offset) + outright boiler/link drop; rows
    # below are rows of the surviving span table (``sel``), and only its
    # text is copied: kind, media_ref and offset are read through ``sel``
    mask = pc.and_kleene(
        pc.and_kleene(pc.is_valid(kind), pc.is_valid(off)),
        pc.invert(pc.fill_null(
            pc.is_in(kind, value_set=pa.array(["boilerplate", "link"])),
            True)))
    sel = np.flatnonzero(pc.fill_null(mask, False).to_numpy(
        zero_copy_only=False))
    if len(sel) == 0:
        return None
    t = pc.coalesce(text.take(pa.array(sel)), "")
    n = len(t)

    # Cleaning (bbox parse and strip, anchor removal, whitespace collapse)
    # changes only the rows holding one of its literal triggers, found in
    # the UTF-8 bytes: a '@@bbox:' prefix, '[[', or the start of a run
    # _WS_RE2 rewrites.  The regexes run on those rows alone (a false
    # positive costs time, never output).
    t_offs, t_data = _utf8(t)
    dirty = np.union1d(
        np.union1d(_rows_starting_with(t_offs, t_data, b"@@bbox:"),
                   _rows_at(t_offs, _pairs(t_data, 0x5B, 0x5B))),
        _rows_at(t_offs, _ws_run_starts(t_data)))
    fold_rows = np.unique(np.concatenate([
        _rows_at(t_offs, _pairs(t_data, *ch.encode()))
        for ch in _FOLD_DIFFERS]))
    st = _Spans()
    st.bb_valid = np.zeros(n, dtype=bool)
    st.dirty_at = np.full(n, -1, dtype=np.int64)  # row -> position in dirty
    st.bbox_grp, st.dirty_wo = None, pa.array([], pa.string())
    cleaned = t
    if len(dirty):
        dirty_t = t.take(pa.array(dirty))
        st.bbox_grp = pc.extract_regex(dirty_t, _BBOX_RE2)
        st.bb_valid[dirty] = pc.is_valid(st.bbox_grp).to_numpy(
            zero_copy_only=False)
        st.dirty_at[dirty] = np.arange(len(dirty))
        st.dirty_wo = pc.replace_substring_regex(dirty_t, _BBOX_RE2_SUB, "")
        cleaned = _with_rows(t, dirty, pc.replace_substring_regex(
            pc.replace_substring_regex(st.dirty_wo, _ANCHOR_RE2, " "),
            _WS_RE2, " "))
    cleaned = pc.utf8_trim(cleaned, spec._ASCII_WS)

    # classification (spec.classify_keep, kernel form); words, pipes and
    # the sentence end are ASCII-byte tests on the cleaned UTF-8
    c_offs, c_data = _utf8(cleaned)
    nonempty = np.diff(c_offs) > 0
    nwords = _byte_counts(c_offs, c_data, 0x20) + 1
    pipes = _byte_counts(c_offs, c_data, 0x7C)
    ends = np.zeros(n, dtype=bool)
    ends[nonempty] = np.isin(c_data[c_offs[1:][nonempty] - 1],
                             np.frombuffer(_SENTENCE_END, np.uint8))
    # NAV phrases (spec: str.lower(), then search) match with RE2's
    # ignore_case, except on rows holding a _FOLD_DIFFERS code point: those
    # lowercase first.  utf8_lower maps 'İ' to a bare 'i', not 'i' + U+0307
    # as str.lower() does (a bare 'i' can complete a NAV phrase), so that
    # rewrite is spelled out.
    nav = np.array(pc.match_substring_regex(
        cleaned, _NAV_RE2, ignore_case=True).to_numpy(zero_copy_only=False))
    if len(fold_rows):
        low = pc.utf8_lower(pc.replace_substring(
            cleaned.take(pa.array(fold_rows)), "\u0130", "i\u0307"))
        nav[fold_rows] = pc.match_substring_regex(low, _NAV_RE2).to_numpy(
            zero_copy_only=False)
    is_media = _is_in(kind, ("image", "table"))[sel]
    mref_ok = pc.fill_null(pc.not_equal(mref, ""), False).to_numpy(
        zero_copy_only=False)[sel]
    text_keep = (_is_in(kind, ("text",))[sel] & nonempty & ~nav
                 & ~(pipes > nwords * spec.PIPE_RATIO)
                 & ((nwords >= spec.MIN_WORDS) | ends))

    st.parent, st.sel, st.kind, st.mref = parent[sel], sel, kind, mref
    st.offset = pc.fill_null(off, 0).to_numpy(zero_copy_only=False)[sel] \
        .astype(np.int64)
    st.cleaned, st.is_media = cleaned, is_media
    st.keep = ((is_media & mref_ok)
               | (_is_in(kind, ("heading",))[sel] & nonempty) | text_keep)
    return st


def _extract_arrow_batch(doc_ids, spans):
    """One Arrow RecordBatch column pair -> the OUTPUT spans column: a
    ``pa.ListArray`` with one ``list<struct<kind,text,media_ref,order>>``
    row per input doc (empty list when nothing survives).

    The per-SPAN stage is ``_span_stage``.  The per-DOC stage is
    vectorized too: docs are classified fast/slow with ``np.add.reduceat``
    over the (parent, offset)-sorted kept rows.  FAST docs (no media span,
    no full bbox cover — for them the order IS the offset order) never
    materialize a Python object (their output columns are Arrow ``take``s
    of the span table), and only SLOW docs (media reconciliation / XY-cut)
    convert to Python and run the shared ``oracle.order_kept`` — ordering
    has exactly one implementation.  The two pools are interleaved back to
    doc order with one computed ``take``; a batch of fast docs only is
    already in doc order."""
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
    st = _span_stage(spans)
    if st is None:
        return _empty_all()
    kept = np.flatnonzero(st.keep)
    if len(kept) == 0:
        return _empty_all()
    parent, offset, sel = st.parent, st.offset, st.sel
    kind, mref, cleaned = st.kind, st.mref, st.cleaned

    # group by doc: (parent, offset)-sorted kept rows, one segment per doc
    order = kept[np.lexsort((offset[kept], parent[kept]))]
    sorted_parent = parent[order]
    starts = np.concatenate(
        ([0], np.flatnonzero(np.diff(sorted_parent)) + 1))
    lens = np.diff(np.concatenate((starts, [len(order)])))
    gdoc = sorted_parent[starts].astype(np.int64)
    has_media = np.add.reduceat(
        st.is_media[order].astype(np.int8), starts) > 0
    all_bbox = np.add.reduceat(
        st.bb_valid[order].astype(np.int8), starts) == lens
    slow = has_media | all_bbox

    # FAST pool: kept rows of fast docs in segment order; output order is
    # the within-segment position (rank == offset order by construction).
    # Its columns are Arrow takes: fast docs never touch Python.
    f_rows = order[np.repeat(~slow, lens)]
    fast_lens = lens[~slow]
    fstarts = np.concatenate(
        ([0], np.cumsum(fast_lens[:-1], dtype=np.int64)))[:len(fast_lens)]
    forder = (np.arange(len(f_rows), dtype=np.int64)
              - np.repeat(fstarts, fast_lens)).astype(np.int32)
    fidx = pa.array(sel[f_rows])
    mref_f = mref.take(fidx)
    # output media_ref normalization: '' -> null (null cond propagates null)
    pools = [kind.take(fidx), cleaned.take(pa.array(f_rows)),
             pc.if_else(pc.equal(mref_f, ""), pa.scalar(None, mref_f.type),
                        mref_f),
             pa.array(forder)]
    fields = list(out_struct)
    pools = [p.cast(f.type) for p, f in zip(pools, fields)]
    counts = np.zeros(n_docs, dtype=np.int64)
    counts[gdoc[~slow]] = fast_lens
    if not slow.any():
        # fast docs only: the pool is already in doc order
        offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
        child = pa.StructArray.from_arrays(pools, fields=fields)
        return pa.ListArray.from_arrays(pa.array(offsets), child)

    # SLOW pool (media claims / XY-cut): Python objects for exactly these
    # rows; bbox coordinates and anchors are parsed for this subset only
    s_rows = order[np.repeat(slow, lens)]
    slow_lens = lens[slow]
    sidx = pa.array(sel[s_rows])
    sk_kind = kind.take(sidx).to_pylist()
    sk_clean = cleaned.take(pa.array(s_rows)).to_pylist()
    sk_mref = mref.take(sidx).to_pylist()
    sk_off = offset[s_rows].tolist()
    sk_bbox = st.bboxes(s_rows)
    anch_map = st.anchors(s_rows)
    s_kind_l, s_text_l, s_mref_l, s_order_l = [], [], [], []
    slow_out_lens = np.zeros(len(slow_lens), dtype=np.int64)
    pos0 = 0
    for gi, glen in enumerate(map(int, slow_lens)):
        group = []
        for pos in range(pos0, pos0 + glen):
            m = sk_mref[pos]
            group.append({
                "kind": sk_kind[pos],
                "text": sk_clean[pos],
                "media_ref": m if m else None,
                "offset": sk_off[pos],
                "bbox": sk_bbox[pos],
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
    counts[gdoc[slow]] = slow_out_lens
    src_start = np.zeros(n_docs, dtype=np.int64)
    src_start[gdoc[~slow]] = fstarts
    src_start[gdoc[slow]] = len(f_rows) + np.concatenate(
        ([0], np.cumsum(slow_out_lens[:-1], dtype=np.int64)))
    offsets = np.concatenate(
        ([0], np.cumsum(counts, dtype=np.int64))).astype(np.int32)
    take_idx = (np.arange(int(offsets[-1]), dtype=np.int64)
                - np.repeat(offsets[:-1].astype(np.int64), counts)
                + np.repeat(src_start, counts))
    pools = [pa.concat_arrays([p, pa.array(s, type=p.type)]) for p, s in zip(
        pools, (s_kind_l, s_text_l, s_mref_l, s_order_l))]
    child = pa.StructArray.from_arrays(pools, fields=fields) \
        .take(pa.array(take_idx))
    return pa.ListArray.from_arrays(pa.array(offsets), child)


def fused_extract_rows(documents: DataFrame) -> DataFrame:
    """(doc_id, spans) -> (doc_id, spans) with ZERO shuffle.

    The input table already co-locates each document's spans in one row, so
    grouping spans by document needs no exchange.  The scale plan is a pure ``mapInArrow`` map: scan -> Arrow
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


_KEPT_COLUMNS = ("doc_id", "kind", "cleaned", "media_ref", "offset")
_KEPT_SCHEMA = ("doc_id string, kind string, cleaned string, "
                "media_ref string, offset long")


def _kept_spans_batch(doc_ids, spans):
    """One Arrow RecordBatch column pair -> a RecordBatch with one row per
    KEPT span, in span-table order: (doc_id, kind, cleaned, media_ref,
    offset).  ``_span_stage`` decides what is kept and how it is cleaned,
    so a span is kept here exactly when ``extract`` keeps it; media_ref
    ``''`` is null, as in ``extract``'s output."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = pa.schema([(n, pa.int64() if n == "offset" else pa.string())
                        for n in _KEPT_COLUMNS])
    st = _span_stage(spans) if len(doc_ids) else None
    if st is None:
        return pa.RecordBatch.from_pylist([], schema=schema)
    rows = np.flatnonzero(st.keep)
    src = pa.array(st.sel[rows])
    mref = st.mref.take(src)
    cols = [doc_ids.take(pa.array(st.parent[rows])), st.kind.take(src),
            st.cleaned.take(pa.array(rows)),
            pc.if_else(pc.equal(mref, ""), pa.scalar(None, mref.type), mref),
            pa.array(st.offset[rows])]
    return pa.RecordBatch.from_arrays(
        [c.cast(f.type) for c, f in zip(cols, schema)], schema=schema)


def fused_kept_spans(documents: DataFrame) -> DataFrame:
    """(doc_id, spans) -> one row per kept span: (doc_id, kind, cleaned,
    media_ref, offset), with ZERO shuffle.

    The flat form of the kernel's per-span stage, for the consumers that
    need classified spans rather than ordered documents (the levels'
    scan/resolve/verify and ``describe``'s headers): one ``mapInArrow``
    over the whole-document rows, like ``fused_extract_rows``.  A span with
    a null kind or offset is quarantined (P5), as in ``extract``."""
    def batches(it):
        for rb in it:
            yield _kept_spans_batch(rb.column(0), rb.column(1))

    return documents.select("doc_id", "spans").mapInArrow(
        batches, schema=_KEPT_SCHEMA)
