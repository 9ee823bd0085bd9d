"""Scalar column functions mirroring the reference's normalizers.

Each has a pure-Python twin in ``extraction.spec``; parity tests keep them in
lockstep.  All are JVM built-ins (translate/regexp/sha2) — whole-stage
codegen, no Python in the data path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_ocr_digits_col(col: Column,
                             expected_len: int | None = None) -> Column:
    """F8 (utils/normalization.py:6-72): O/o->0, l/I->1, S->5, B->8, strip
    non-digits; null on null input / no digits left / length-gate miss —
    the reference's None contract (spec.normalize_ocr_digits parity)."""
    digits = F.nullif(
        F.regexp_replace(F.translate(col, "OolISB", "001158"), "[^0-9]", ""),
        F.lit(""))
    if expected_len is None:
        return digits
    return F.when(F.length(digits) == expected_len, digits)


def strip_json_fence_col(col: Column) -> Column:
    """F1 (operations/scan.py:70-76): unwrap ```json ... ``` fences, pass
    through unfenced text."""
    extracted = F.regexp_extract(col, r"```(?:json)?\s*([\s\S]*?)\s*```", 1)
    return F.when(extracted != "", extracted).otherwise(F.trim(col))


def sanitize_filename_col(col: Column) -> Column:
    """F11 (core/state.py:244-259): replace filesystem-unsafe chars."""
    return F.regexp_replace(col, r'[\\/:*?"<>|]', "_")


def normalize_unicode(df, cols: list[str], form: str = "NFC"):
    """Unicode normalization of string columns (NFC/NFD/NFKC/NFKD) — the
    first narrow pass of any multilingual web-corpus pipeline: crawled
    text mixes precomposed and combining-mark encodings of the same
    glyphs, which breaks exact dedup digests, shingle equality, and token
    counts unless everything is folded to one canonical form first.

    Spark has no built-in Unicode normalizer, so this is the documented
    exception to the JVM-only rule in this module: a vectorized
    ``pandas_udf`` applying ``unicodedata.normalize`` per Arrow batch
    (zero shuffle, scales with partitions).  The DuckDB oracle twin is
    ``nfc_normalize`` — both implement the same Unicode standard annex,
    pinned equal by the gate.
    """
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"normalize_unicode: unknown form {form!r}")

    # no type hints: this module uses `from __future__ import annotations`,
    # which turns hints into strings pandas_udf cannot resolve — the
    # explicit (fn, returnType) form is the hint-free scalar API
    def _norm_fn(s):
        import unicodedata
        return s.map(lambda x: unicodedata.normalize(form, x)
                     if x is not None else None)

    _norm = pandas_udf(_norm_fn, "string")

    out = df
    for c in cols:
        out = out.withColumn(c, _norm(F.col(c)))
    return out
