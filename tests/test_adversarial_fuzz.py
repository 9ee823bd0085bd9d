"""Adversarial fuzz: hostile span content (regex metachars, malformed bbox
markers, dangling/duplicated anchors, unicode whitespace and digits, shuffled
negative offsets, null fields) must still satisfy the judged invariant —
exact span-sequence equality vs the oracle.

Offsets stay unique per doc (the input contract: offset IS the span's
position); everything else is fair game.
"""

import random

import pytest

from vlm_ocr_doc_reader_spark.extraction.oracle import extract_doc
from vlm_ocr_doc_reader_spark.plans.extract import extract
from vlm_ocr_doc_reader_spark.sources.readers import DOCUMENTS_SCHEMA

_HOSTILE_TEXT = [
    "", "   ", None, ".", "!", "?", "|", "| | | |",
    "@@bbox:1,2,3,4@@Valid layout text here today.",
    "@@bbox:1,2@@ malformed bbox stays literal.",
    "@@bbox:999999999,0,1,1@@Huge coordinate box.",
    "mid @@bbox:1,2,3,4@@ string marker is not a prefix.",
    "[[img_x_0]] leading anchor with text after it.",
    "dangling [[img_nope_9]] anchor to nothing here.",
    "double [[img_x_0]] claim [[img_x_0]] same host.",
    "nested [[ img_x_0 ]] is not an anchor (spaces).",
    "brackets ]] reversed [[ confuse nothing much.",
    "regex meta ((( *** ??? \\d+ [a-z] $^ usual text.",
    "tab\tand\nnewline\rand\x0bvertical whitespace here.",
    "nbsp\xa0stays\xa0since ascii collapse only works.",
    "unicode digits ١٢٣٤٥٦ and Ⅷ roman numeral stay.",
    "Проверка кириллицы в содержимом документа тут.",
    "emoji 🙂 content 🚀 survives cleaning fine today.",
    "copyright 2026 someone",          # nav pattern -> dropped
    "skip to content",                 # nav pattern -> dropped
    "Short",                           # < MIN_WORDS, no punct -> dropped
    "Ok.",                             # < MIN_WORDS but punct -> kept
    "a | b | c | d | e",               # pipe menu -> dropped
]

# ASCII-whitespace runs the kernel's collapse must rewrite, and the lone
# spaces it may leave alone; each case alone (mostly dropped as empty or
# short) and inside a sentence long enough to be kept
_WS_CASES = [
    "\t", "\t\t\t", "\x0b", " \t ", "  ", " ", "\r\n", "\x0c ",
    "  \n leading and trailing runs around this text \t\n",
    "before [[img_x_0]] after: the anchor leaves a double space.",
    "[[img_x_0]] anchor first then words after it.",
    "words then the anchor last [[img_x_0]]",
]
_WS_DOC = ("ws_cases", [
    (kind, text, None, i)
    for i, (kind, text) in enumerate(
        [("text", c) for c in _WS_CASES]
        + [("text", f"one{c}two three four five.") for c in _WS_CASES]
        + [("heading", f"Title{c}here") for c in _WS_CASES])])

# U+0130 'İ' lowers to 'i' + U+0307 in str.lower() but to a bare 'i' in
# Arrow's utf8_lower, which would turn "polİcy" into the NAV phrase
# "privacy policy".
_DOTTED_I_DOC = ("dotted_i", [
    ("text", "Read the privacy polİcy here today", None, 0),
    ("text", "İstanbul is a city on two continents.", None, 1),
    ("text", "PRIVACY POLİCY", None, 2),
    ("text", "privacy policy", None, 3),
    ("heading", "Terms of use İ", None, 4),
    ("text", "Read the privacy policy here today", None, 5)])

# every span pruned by kind, and no spans at all: both docs must still
# emit their row with an empty spans array
_PRUNED_DOC = ("bp_only", [("boilerplate", "Copyright 2026.", None, 0),
                           ("link", "home", None, 1)])
_EMPTY_DOC = ("no_spans", [])

# a layout doc (every kept span boxed, so XY-cut orders it) with a
# coordinate above int64: the bbox syntax bounds no coordinate, and the
# oracle parses it as a Python int
_HUGE_BBOX_DOC = ("huge_bbox", [
    ("text", "@@bbox:99999999999999999999,0,5,1@@Far right box text here.",
     None, 0),
    ("text", "@@bbox:0,0,5,1@@Left box text comes first here.", None, 1)])

_KINDS = ["text", "heading", "image", "table", "boilerplate", "link",
          "blob", None]
_REFS = [None, "", "img_x_0", "tbl_y_1", "img_nope_9", "weird ref"]


def _gen_doc(rng: random.Random, n: int):
    offsets = rng.sample(range(-5, 60), n)  # unique, shuffled, some negative
    spans = []
    for off in offsets:
        kind = rng.choice(_KINDS)
        text = rng.choice(_HOSTILE_TEXT)
        ref = rng.choice(_REFS)
        spans.append((kind, text, ref, off))
    return spans


@pytest.mark.parametrize("seed", [11, 23])
def test_adversarial_corpus_matches_oracle(spark, seed):
    rng = random.Random(seed)
    docs = [(f"adv_{i}", _gen_doc(rng, rng.randint(1, 25)))
            for i in range(60)] + [_WS_DOC, _DOTTED_I_DOC, _PRUNED_DOC,
                                   _EMPTY_DOC, _HUGE_BBOX_DOC]
    golden = {d: [tuple(s) for s in extract_doc(sp)] for d, sp in docs}
    assert golden["bp_only"] == [] and golden["no_spans"] == []
    # the oracle keeps the dotted-I span and drops its undotted NAV twin
    kept = [s[1] for s in golden["dotted_i"]]
    assert "Read the privacy polİcy here today" in kept
    assert "Read the privacy policy here today" not in kept
    df = spark.createDataFrame(docs, DOCUMENTS_SCHEMA)
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"],
                          s["order"]) for s in r["spans"]]
           for r in extract(df).collect()}
    bad = [d for d in golden if got.get(d) != golden[d]]
    assert not bad, (
        f"{len(bad)} docs diverge; first={bad[0]}: "
        f"got={got.get(bad[0])!r} want={golden[bad[0]]!r}")
