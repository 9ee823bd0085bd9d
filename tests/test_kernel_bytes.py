"""Spark-free parity of the fused kernel's byte-level rules.

The kernel counts words and pipes, tests the sentence end and finds the
cleaning triggers ('@@bbox:', '[[', whitespace runs) in the UTF-8 bytes,
and matches NAV phrases with RE2's ignore_case.  Each rule is held here to
the scalar oracle (``oracle.extract_doc``) and to Arrow's code-point
kernels (``count_substring``, last-code-point ``utf8_slice_codeunits``), on
the inputs where a byte rule could diverge from a code-point rule:
multi-byte look-alikes of '|' and '.', unicode whitespace, case-folding
traps, and sliced (offset) arrays."""

import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from vlm_ocr_doc_reader_spark.extraction import spec
from vlm_ocr_doc_reader_spark.extraction.oracle import extract_doc
from vlm_ocr_doc_reader_spark.operators import fused

SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int64())])

# look-alikes a byte rule must not mistake for ASCII: ideographic full stop,
# fullwidth '!' and '|', broken bar, NBSP; and the case-folding traps
HOSTILE = ["\u3002", "\uff01", "\uff5c", "\xa6", "\xa0", "\u0130",
           "\u017f", "\u212a"]
ALPHABET = list("ab z.|!?\t\n") + HOSTILE + [
    "  ", " \xa0 ", "[[img_1]]", "@@bbox:1,2,3,4@@", "copyright",
    "cookie", "terms of \u017fervice", "PRIVACY POL\u0130CY"]


def _fuzz_strings(n, seed):
    rng = random.Random(seed)
    return ["".join(rng.choice(ALPHABET) for _ in range(rng.randint(0, 12)))
            for _ in range(n)]


def _oracle(docs):
    return [extract_doc(spans) for spans in docs]


def _kernel(docs, spans_type=SPAN_TYPE):
    arr = pa.array([[dict(zip(("kind", "text", "media_ref", "offset"), s))
                     for s in spans] for spans in docs],
                   type=pa.list_(spans_type))
    out = fused._extract_arrow_batch(pa.array(range(len(docs))), arr)
    return [[(d["kind"], d["text"], d["media_ref"], d["order"]) for d in row]
            for row in out.to_pylist()]


def _text_doc(text, kind="text"):
    return [(kind, text, None, 0)]


# --- the byte helpers against Arrow's code-point string kernels ----------

@pytest.mark.parametrize("typ", [pa.string(), pa.large_string()])
@pytest.mark.parametrize("window", [(0, None), (7, 150), (299, 1)])
def test_byte_counts_equal_code_point_counts(typ, window):
    """Spaces, pipes and the last code point from the bytes equal the
    code-point kernels, on plain, large and sliced string arrays."""
    start, length = window
    arr = pa.array(_fuzz_strings(300, seed=7), type=typ).slice(start, length)
    offs, data = fused._utf8(arr)
    for byte, ch in ((0x20, " "), (0x7C, "|")):
        assert fused._byte_counts(offs, data, byte).tolist() == \
            pc.count_substring(arr, ch).to_pylist()
    last = pc.utf8_slice_codeunits(arr, start=-1, stop=2**30)
    ends = np.zeros(len(arr), dtype=bool)
    nonempty = np.diff(offs) > 0
    ends[nonempty] = np.isin(data[offs[1:][nonempty] - 1],
                             np.frombuffer(fused._SENTENCE_END, np.uint8))
    assert ends.tolist() == pc.is_in(
        last, value_set=pa.array(list(spec.SENTENCE_END))).to_pylist()


def test_utf8_windows_and_refusals():
    arr = pa.array(["ab", "", "c\u3002d", "e"]).slice(1, 2)
    offs, data = fused._utf8(arr)
    assert offs.tolist() == [0, 0, 5]
    assert bytes(data) == "c\u3002d".encode()
    offs, data = fused._utf8(pa.array([], pa.string()))
    assert offs.tolist() == [0] and len(data) == 0
    with pytest.raises(TypeError):
        fused._utf8(pa.array([b"x"], pa.binary()))


def test_triggers_find_every_rewritten_row():
    """A row the cleaning regexes would change always holds a trigger."""
    strings = _fuzz_strings(2000, seed=11)
    arr = pa.array(strings)
    offs, data = fused._utf8(arr)
    found = set(np.concatenate([
        fused._rows_starting_with(offs, data, b"@@bbox:"),
        fused._rows_at(offs, fused._pairs(data, 0x5B, 0x5B)),
        fused._rows_at(offs, fused._ws_run_starts(data))]).tolist())
    changed = pc.not_equal(arr, pc.replace_substring_regex(
        pc.replace_substring_regex(
            pc.replace_substring_regex(arr, fused._BBOX_RE2_SUB, ""),
            fused._ANCHOR_RE2, " "), fused._WS_RE2, " ")).to_pylist()
    assert {i for i, c in enumerate(changed) if c} <= found


def test_fold_differs_is_exactly_where_re2_and_lower_disagree():
    """RE2's ignore_case and ``str.lower()`` map the same non-ASCII code
    points onto the same ASCII letters, except ``fused._FOLD_DIFFERS``."""
    chars = [chr(c) for c in range(0x80, 0x110000)
             if not 0xD800 <= c < 0xE000]
    folds = pc.match_substring_regex(pa.array(chars), "[a-z]",
                                     ignore_case=True).to_pylist()
    re2 = {c for c, f in zip(chars, folds) if f}
    lower = {c for c in chars if any(ord(x) < 0x80 for x in c.lower())}
    assert re2 ^ lower == set(fused._FOLD_DIFFERS)
    for c in re2 & lower:                 # U+212A KELVIN SIGN -> 'k'
        assert pc.match_substring_regex(pa.array([c]), c.lower(),
                                        ignore_case=True)[0].as_py()
    assert all(len(c.encode()) == 2 for c in fused._FOLD_DIFFERS)


# --- whole-kernel parity with the oracle ---------------------------------

@pytest.mark.parametrize("text", [
    "one\u3002", "wow\uff01", "ok.", "ok!", "ok?", "ok\u3002.",
    "a \uff5c b \uff5c c", "a \xa6 b \xa6 c", "a | b | c", "a|b",
    "x\xa0 y", "x \xa0 y", "x\xa0\xa0y z", "\xa0", " \xa0 ", "",
    "   ", "\t\n\r\f\v", " . ", "a  b", "a\tb.", "\xa0end.",
    "PRIVACY POL\u0130CY here", "privacy pol\u0130cy",
    "terms of \u017fervice", "TERMS OF SERVICE", "Coo\u212aie jar",
    "cookie", "all rights reserved"])
@pytest.mark.parametrize("kind", ["text", "heading"])
def test_single_span_docs_match_oracle(text, kind):
    doc = _text_doc(text, kind)
    assert _kernel([doc]) == _oracle([doc])


def test_one_dotted_capital_i_row_in_an_ascii_batch():
    """One U+0130 (or U+017F) row among plain ASCII rows takes the exact NAV
    form; the ASCII rows around it keep the ignore_case form."""
    docs = [_text_doc(f"plain words number {i} here") for i in range(200)]
    docs[57] = _text_doc("PRIVACY POL\u0130CY of this site")
    docs[58] = _text_doc("terms of \u017fervice apply today")
    docs[59] = _text_doc("Terms Of Service apply today")
    got = _kernel(docs)
    assert got == _oracle(docs)
    assert got[57] and got[58] and not got[59]


def _prose(doc, n, media=False):
    spans = [("heading", f"Title {doc}", None, 0)]
    for i in range(1, n):
        spans.append(("text", f"Sentence {i} of doc {doc} reads well.",
                      None, i))
    if media:
        spans.append(("image", "", f"img_{doc}", n))
    return spans


GATES = {
    "none": lambda d: _prose(d, 6),
    "bbox": lambda d: [(k, f"@@bbox:{10 * o},{o},{10 * o + 5},{o + 1}@@{t}",
                        m, o) for k, t, m, o in _prose(d, 6)],
    "anchor": lambda d: _prose(d, 4) + [
        ("text", f"See [[img_{d}]] and [[tbl_{d}]] below.", None, 9),
        ("image", "", f"img_{d}", 10), ("table", "", f"tbl_{d}", 11)],
    "ws": lambda d: _prose(d, 3) + [
        ("text", "tabs\there  and\n\nnewlines ok", None, 5),
        ("text", " lead and trail\v", None, 6)],
    "media_no_trigger": lambda d: _prose(d, 5, media=True),
}


@pytest.mark.parametrize("gates", [
    ("none",), ("bbox",), ("anchor",), ("ws",), ("media_no_trigger",),
    ("none", "bbox"), ("none", "anchor", "ws"),
    ("none", "bbox", "anchor", "ws", "media_no_trigger")])
def test_gated_batches_match_oracle(gates):
    """Each cleaning gate firing on all, some or none of a batch's rows;
    ``media_no_trigger`` puts media docs on the slow path in a batch with
    no '@@bbox:' or '[[' at all."""
    docs = [GATES[gates[d % len(gates)]](d) for d in range(24)]
    assert _kernel(docs) == _oracle(docs)


@pytest.mark.parametrize("coords", [
    "99999999999999999999,0,5,1", "0,0,5,99999999999999999999",
    "9223372036854775807,0,5,1", "9223372036854775808,0,5,1",
    "000000000000000000000000001,0,5,1"])
def test_bbox_coordinates_above_int64_match_oracle(coords):
    """A layout doc (every kept span boxed) with a coordinate at or above
    the int64 limit is ordered as the oracle orders it, alone and in a
    batch with ordinary layout docs."""
    doc = [("text", f"@@bbox:{coords}@@Far right box text here.", None, 0),
           ("text", "@@bbox:0,0,5,1@@Left box text comes first here.",
            None, 1)]
    assert _kernel([doc]) == _oracle([doc])
    docs = [GATES["bbox"](d) for d in range(6)] + [doc]
    assert _kernel(docs) == _oracle(docs)


def test_sliced_list_array_matches_oracle():
    """A batch whose spans column is a window of a larger list array (a
    non-zero offset into the flattened children) extracts its own docs."""
    docs = [GATES[g](d) for d in range(40)
            for g in ("none", "bbox", "anchor", "ws")][:40]
    docs[13] = _text_doc("PRIVACY POL\u0130CY \uff5c end\u3002")
    arr = pa.array([[dict(zip(("kind", "text", "media_ref", "offset"), s))
                     for s in spans] for spans in docs],
                   type=pa.list_(SPAN_TYPE))
    want = _oracle(docs)
    for start, length in ((5, 20), (13, 1), (39, 1), (1, 39)):
        window = arr.slice(start, length)
        assert window.offset == start
        out = fused._extract_arrow_batch(pa.array(range(length)), window)
        got = [[(d["kind"], d["text"], d["media_ref"], d["order"])
                for d in row] for row in out.to_pylist()]
        assert got == want[start:start + length]


def test_large_string_spans_give_the_string_output():
    docs = [GATES[g](d) for d, g in enumerate(GATES)]
    big = pa.struct([("kind", pa.large_string()),
                     ("text", pa.large_string()),
                     ("media_ref", pa.large_string()),
                     ("offset", pa.int64())])
    assert _kernel(docs, big) == _kernel(docs) == _oracle(docs)


def test_fuzzed_batches_match_oracle():
    """Whole batches of fuzzed multi-span docs over the hostile alphabet,
    mixed kinds and media refs (the unicode-parity fuzz runs one span per
    doc; this one puts many rows with and without triggers in a batch)."""
    rng = random.Random(5)
    kinds = ["text", "text", "heading", "image", "table", "boilerplate"]
    for seed in range(4):
        strings = _fuzz_strings(600, seed=100 + seed)
        docs, i = [], 0
        while i < len(strings):
            n = rng.randint(0, 9)
            docs.append([(rng.choice(kinds), s,
                          rng.choice([None, "", "img_1"]), o)
                         for o, s in enumerate(strings[i:i + n])])
            i += max(n, 1)
        assert _kernel(docs) == _oracle(docs)
