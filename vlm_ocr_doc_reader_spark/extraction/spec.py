"""Single source of truth for the deterministic extraction semantics.

The judged invariant (BASELINE.json) is exact span-sequence equality on
``(kind, text, media_ref, order)`` per ``doc_id`` between the distributed
Spark pipeline and the single-node oracle.  Both implementations import the
constants and pure functions below, so there is exactly one definition of:

  * the bbox marker / media-anchor wire format inside span text,
  * the boilerplate keep/drop classification rules (the deterministic
    replacement for the reference's VLM "scan" pass,
    /root/reference/02_src/vlm_ocr_doc_reader/operations/scan.py:22-67),
  * the XY-cut reading order for layout (PDF-derived) documents
    (replacement for implicit page order,
    /root/reference/02_src/vlm_ocr_doc_reader/preprocessing/renderer.py:89-90),
  * the media-anchor reconciliation rules (deterministic replacement for the
    reference's OCR "resolve" pass,
    /root/reference/02_src/vlm_ocr_doc_reader/core/ocr_client.py:202-371),
  * value normalization for majority voting
    (/root/reference/02_src/vlm_ocr_doc_reader/core/voting.py:30-41).

Everything here is pure Python/stdlib so the oracle stays Spark-free.  The
Spark side mirrors the per-span rules in the Arrow kernel
(``operators/fused.py``) and calls the ordering rules directly from it.
"""

from __future__ import annotations

import re
from typing import List, Optional, Sequence, Tuple

# ---------------------------------------------------------------------------
# Wire format inside span text
# ---------------------------------------------------------------------------

# Layout documents carry a synthetic bbox prefix on every span's text:
#   "@@bbox:x0,y0,x1,y1@@actual text"
# (FIXTURES.md §1 "layout" slice; coordinates are non-negative ints).
BBOX_RE = r"^@@bbox:(\d+),(\d+),(\d+),(\d+)@@"

# Media anchors embedded in text/heading spans: "[[img_3]]" / "[[tbl_7]]".
# The resolver re-positions the referenced media span right after the host
# span (FIXTURES.md §1 "interleaved media" slice).
ANCHOR_RE = r"\[\[((?:img|tbl)_[A-Za-z0-9_]+)\]\]"

# Navigation / boilerplate give-away phrases (lowercased substring match).
# Deterministic stand-in for the reference's VLM judgement of what is main
# content (scan.py:22-67 asks the model to skip headers/footers/nav).
NAV_PATTERNS = (
    "copyright",
    "all rights reserved",
    "terms of service",
    "privacy policy",
    "cookie",
    "skip to content",
    "back to top",
)
# Single regex used by both sides (rlike on the Spark side).
NAV_RE = "(" + "|".join(re.escape(p) for p in NAV_PATTERNS) + ")"

MIN_WORDS = 3          # text spans shorter than this need closing punctuation
PIPE_RATIO = 0.2       # '|' per word above this ratio == nav menu
SENTENCE_END = (".", "!", "?")

NO_DATA_SENTINEL = "__NO_DATA__"  # voting.py:30-41 sentinel

# re.ASCII pins \d and \s to ASCII semantics — Java regex (the Catalyst
# mirror) is ASCII-only for these classes by default, and the two sides must
# agree byte-for-byte on inputs containing unicode digits/whitespace (\xa0,
# arabic-indic digits, ...).
_bbox_c = re.compile(BBOX_RE, re.ASCII)
_anchor_c = re.compile(ANCHOR_RE, re.ASCII)
_nav_c = re.compile(NAV_RE, re.ASCII)
_ws_c = re.compile(r"\s+", re.ASCII)

# after _ws_c collapse, any leading/trailing whitespace is one of these ASCII
# chars — python str.strip() would ALSO strip unicode whitespace (\xa0) which
# Spark's trim() does not, so strip the explicit ASCII set instead
_ASCII_WS = " \t\n\r\f\v"


# ---------------------------------------------------------------------------
# Text cleaning
# ---------------------------------------------------------------------------

def parse_bbox(text: Optional[str]) -> Optional[Tuple[int, int, int, int]]:
    """Extract the bbox prefix, if present.

    The ``startswith`` pre-check is a pure fast path: BBOX_RE is anchored at
    ^@@bbox:, so a non-prefixed string can never match.
    """
    if not text or not text.startswith("@@bbox:"):
        return None
    m = _bbox_c.match(text)
    if not m:
        return None
    return tuple(int(g) for g in m.groups())  # type: ignore[return-value]


def strip_bbox(text: Optional[str]) -> str:
    if not text:
        return ""
    if not text.startswith("@@bbox:"):  # fast path: anchored regex
        return text
    return _bbox_c.sub("", text)


def extract_anchors(text_wo_bbox: str) -> List[str]:
    """Media refs referenced by this span, in order of appearance.

    '[[': every ANCHOR_RE match contains that literal, so its absence is a
    guaranteed miss (fast path).
    """
    if "[[" not in text_wo_bbox:
        return []
    return _anchor_c.findall(text_wo_bbox)


def clean_text(text_wo_bbox: str) -> str:
    """Anchor removal + whitespace collapse + strip.

    Anchors are replaced by a single space BEFORE whitespace collapse, so the
    Spark expression ``trim(regexp_replace(regexp_replace(x, ANCHOR, ' '),
    '\\s+', ' '))`` is exactly equivalent.  The '[[' check is a pure fast
    path (see extract_anchors).
    """
    t = _anchor_c.sub(" ", text_wo_bbox) if "[[" in text_wo_bbox \
        else text_wo_bbox
    return _ws_c.sub(" ", t).strip(_ASCII_WS)


# ---------------------------------------------------------------------------
# Classification (keep/drop) — the deterministic "scan" pass (M1)
# ---------------------------------------------------------------------------

def classify_keep(kind: str, cleaned: str, media_ref: Optional[str]) -> bool:
    """Return True when the span survives boilerplate removal.

    Rules (mirrored 1:1 by the Arrow kernel in ``operators/fused.py`` —
    keep both in sync!):
      * boilerplate / link kinds are dropped outright,
      * image/table spans are kept iff they carry a media_ref,
      * heading spans are kept iff non-empty after cleaning,
      * text spans are kept iff non-empty, not nav-like (NAV_PATTERNS),
        not pipe-menu-like (PIPE_RATIO), and either >= MIN_WORDS words or
        ending in sentence punctuation.

    The kernel counts words (spaces + 1) and pipes and tests the sentence
    end (the last byte) on the UTF-8 bytes.  That equals the code-point
    tests here because an ASCII byte never occurs inside a multi-byte
    UTF-8 sequence, so ' ', '|' and every SENTENCE_END mark must stay
    ASCII (``fused._SENTENCE_END`` refuses anything else at import).
    """
    if kind in ("boilerplate", "link"):
        return False
    if kind in ("image", "table"):
        return bool(media_ref)
    if kind == "heading":
        return cleaned != ""
    if kind == "text":
        if cleaned == "":
            return False
        low = cleaned.lower()
        if _nav_c.search(low):
            return False
        words = cleaned.split(" ")
        nwords = len(words)
        pipes = cleaned.count("|")
        if pipes > PIPE_RATIO * nwords:
            return False
        if nwords < MIN_WORDS and cleaned[-1] not in SENTENCE_END:
            return False
        return True
    # unknown kinds are quarantined (dropped from main output)
    return False


# ---------------------------------------------------------------------------
# XY-cut reading order (W8) — layout documents only
# ---------------------------------------------------------------------------

def xy_cut_order(boxes: Sequence[Tuple[int, int, int, int]]) -> List[int]:
    """Recursive XY-cut: return a permutation of indices in reading order.

    Classic top-down alternation: find a horizontal gap that splits the boxes
    into top/bottom, else a vertical gap into left/right; recurse.  Leaves are
    ordered by (y0, x0, index).  Deterministic for any input; both the oracle
    and the grouped-pandas Spark UDF call THIS function.
    """
    idx = list(range(len(boxes)))
    if len(idx) <= 1:
        return idx

    def solve(ids: List[int], axis_first: int, depth: int) -> List[int]:
        if len(ids) <= 1 or depth > 32:
            return sorted(ids, key=lambda i: (boxes[i][1], boxes[i][0], i))
        for axis in (axis_first, 1 - axis_first):
            lo_c, hi_c = (1, 3) if axis == 0 else (0, 2)  # axis0: split on y
            ivals = sorted((boxes[i][lo_c], boxes[i][hi_c], i) for i in ids)
            # sweep for the first gap strictly inside the extent
            max_end = ivals[0][1]
            cut = None
            for k in range(1, len(ivals)):
                if ivals[k][0] >= max_end:
                    cut = ivals[k][0]
                    break
                max_end = max(max_end, ivals[k][1])
            if cut is not None:
                a = [i for i in ids if boxes[i][lo_c] < cut]
                b = [i for i in ids if boxes[i][lo_c] >= cut]
                if a and b:
                    # alternate the preferred axis: a horizontal band cut is
                    # followed by a vertical (column) cut inside each band,
                    # giving newspaper (column-major) reading order
                    return (solve(a, 1 - axis, depth + 1)
                            + solve(b, 1 - axis, depth + 1))
        return sorted(ids, key=lambda i: (boxes[i][1], boxes[i][0], i))

    return solve(idx, 0, 0)


# ---------------------------------------------------------------------------
# Vote normalization (F7) / digit normalization (F8)
# ---------------------------------------------------------------------------

def normalize_for_vote(value: Optional[str]) -> str:
    """trim + collapse whitespace + lowercase; blank/None -> sentinel.

    Mirrors /root/reference/.../core/voting.py:30-41; Spark equivalent:
    ``when(col.isNull() | (trim(col)==''), NO_DATA_SENTINEL)
      .otherwise(lower(regexp_replace(trim(col), '\\s+', ' ')))``.
    """
    if value is None or value.strip(_ASCII_WS) == "":
        return NO_DATA_SENTINEL
    return _ws_c.sub(" ", value.strip(_ASCII_WS)).lower()


_DIGIT_TRANS = str.maketrans({"O": "0", "o": "0", "l": "1", "I": "1",
                              "S": "5", "B": "8"})


def normalize_ocr_digits(value: Optional[str],
                         expected_len: Optional[int] = None) -> Optional[str]:
    """O→0 l/I→1 S→5 B→8, then keep digits only; optional length gate.

    Mirrors /root/reference/.../utils/normalization.py:6-72 including its
    None contract: None input → None, no digits remaining → None, length
    mismatch → None.  INTENTIONAL divergence (documented): the reference
    keeps any ``str.isdigit()`` char (unicode digits); we keep ASCII [0-9]
    only so the Spark (Java regex), DuckDB (RE2) and Python sides agree
    byte-for-byte — parity-tested in test_normalize_functions.py.
    Spark twin: ``nullif(regexp_replace(translate(col,'OolISB','001158'),
    '[^0-9]',''), '')``.
    """
    if value is None:
        return None
    digits = re.sub(r"[^0-9]", "", value.translate(_DIGIT_TRANS))
    if expected_len is not None and len(digits) != expected_len:
        return None
    return digits or None


# ---------------------------------------------------------------------------
# Heading level recovery (D6) — HeaderInfo.level analog
# ---------------------------------------------------------------------------
# The reference's headers carry level:int produced by the VLM
# (/root/reference/02_src/vlm_ocr_doc_reader/schemas/document.py:7-18,
# validated at operations/full_description.py:333-341).  Deterministic
# analog: a markdown '#'-run when present, else a word-count heuristic
# (short headings are higher-level).  Mirrored 1:1 by Catalyst expressions
# in plans/describe.py — parity-tested.

MAX_HEADING_LEVEL = 6


def heading_level(cleaned: str) -> int:
    """Level for a kept heading span's cleaned text."""
    if cleaned.startswith("#"):
        n = len(cleaned) - len(cleaned.lstrip("#"))
        return min(n, MAX_HEADING_LEVEL)
    nwords = len(cleaned.split(" ")) if cleaned else 0
    if nwords <= 2:
        return 1
    if nwords <= 4:
        return 2
    return 3


def heading_title(cleaned: str) -> str:
    """Title with any markdown '#'-run stripped."""
    if cleaned.startswith("#"):
        return cleaned.lstrip("#").strip(_ASCII_WS)
    return cleaned
