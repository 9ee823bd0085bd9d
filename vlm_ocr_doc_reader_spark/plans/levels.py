"""Resolution Levels pipeline: scan (L0) -> resolve (L1) -> verify (L2).

Set-at-a-time mirror of the reference's three entry points
(core/reader.py:128-215, 237-408, 427-532) with the model channel replaced
by deterministic operators:

  * scan: derive the precision-target registry from the page texts.  Every
    digit run of >= MIN_DIGITS digits in a page's text becomes a registry
    entry (the reference's VLM emits "atomic, concrete" targets like
    ИНН/ОГРН numbers — scan.py:22-67; our deterministic analog targets
    exactly those digit identifiers).  entity_id = F4 hash synth.
  * resolve: re-extract each pending target's value from its page text
    (M2), normalize digits (F8), status ok/no_data; resolution 0 -> 1
    (P6/P7).
  * verify: N independent resolve axes -> majority vote (A2) -> resolution 2
    with confidence 'k/N'.  The engine is deterministic, so verify is
    idempotent and votes are unanimous — strictly stronger than the
    reference's documented non-idempotent verify
    (decision_002_verify.md:44); the vote operator's tie/error semantics are
    covered by the ported unit suite instead.

Page texts.  The kept text spans of the Arrow kernel
(``operators.fused.fused_kept_spans``, the same per-span stage ``extract``
runs) are grouped into one row per (doc_id, page_num), page_num = offset
+ 1.  A page's text is its spans' cleaned texts, sorted and joined by a
space, so a page that holds one span keeps that span's text, and a
page's run indices — and so its (doc_id, entity_id) keys — are unique
however many spans share its offset.  scan, resolve and verify all read
this frame.

One join per level.  resolve is one left join of the registry to the
page texts: pending rows are rewritten, every other row passes through
in the same projection.  verify is one left join of the targeted rows to
the page texts, the axis fan-out and ``majority_vote``, whose key is the
whole registry row, so no result is joined back; untargeted rows pass
through by a filter.  No stage persists the registry or merges by a
full outer join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import normalize_ocr_digits_col
from ..operators.fused import fused_kept_spans
from ..operators.registry import REGISTRY_COLS, synth_entity_id_col
from ..operators.vote import majority_vote

MIN_DIGITS = 6
_DIGIT_RUN = rf"\d{{{MIN_DIGITS},}}"
AXIS_CHUNK_CHARS = 16


def kept_text_spans(documents: DataFrame) -> DataFrame:
    """The kept text spans, (doc_id, kind, cleaned, media_ref, offset): the
    kernel's flat kept-span map filtered to ``kind = 'text'``, so a span is
    a target source exactly when ``extract`` keeps it (a null kind or
    offset is quarantined, P5).  Building it starts no Spark job.

    scan/resolve/verify all accept this frame via ``kept=``, so a chained
    run (CLI scan->resolve->verify) classifies the corpus ONCE (persist
    it) instead of once per stage."""
    return fused_kept_spans(documents).filter(F.col("kind") == "text")


def _page_texts(kept: DataFrame) -> DataFrame:
    """(doc_id, page_num, page_text): one row per page of the kept text
    spans, the page's cleaned texts sorted and joined by a space."""
    return (kept.groupBy("doc_id",
                         (F.col("offset") + 1).cast("int").alias("page_num"))
            .agg(F.array_join(F.array_sort(F.collect_list("cleaned")), " ")
                  .alias("page_text")))


def scan(documents: DataFrame, kept: DataFrame | None = None) -> DataFrame:
    """L0: build the registry (doc_id, page_num, entity_id, prompt,
    resolution=0, ...) from digit-run targets in the page texts.

    page_num is 1-based like the reference (renderer.py:89-90):
    page_num = offset + 1.  prompt encodes (run index, page) so resolve
    can re-locate the target in the page text without re-scanning.
    """
    kept = kept if kept is not None else kept_text_spans(documents)
    runs = (_page_texts(kept)
            .select("doc_id", "page_num",
                    F.posexplode(
                        F.regexp_extract_all(F.col("page_text"),
                                             F.lit(_DIGIT_RUN), 0))
                     .alias("run_idx", "raw_value")))
    return (runs
            .withColumn("prompt",
                        F.format_string("digits run %d on page %d",
                                        F.col("run_idx"), F.col("page_num")))
            .withColumn("entity_id", synth_entity_id_col())
            .select("doc_id", "page_num", "entity_id", "prompt",
                    F.lit(0).alias("resolution"),
                    F.lit(None).cast("string").alias("value"),
                    F.lit(None).cast("string").alias("context"),
                    F.lit(False).alias("verified"),
                    F.lit(None).cast("string").alias("confidence")))


def _targeted(pages: list[int] | None) -> Column:
    """Rows a stage may rewrite: a non-empty entity_id (the merge key,
    core/state.py:810-812), on one of ``pages`` when given (P3/P4).
    Never null, so its negation selects exactly the other rows."""
    cond = F.col("entity_id").isNotNull() & (F.col("entity_id") != "")
    if pages:
        cond = cond & F.col("page_num").isin(pages)
    return F.coalesce(cond, F.lit(False))


def _read_target(text: Column) -> tuple[Column, Column, Column]:
    """(value, context, status) of the prompt's digit run in ``text``
    (core/reader.py:277-377): the run is re-located by the run index the
    prompt carries (the reference re-reads the prompt text,
    reader.py:307-313) and digit-normalized; no run or no digits ->
    no_data (F5 semantics, ocr_client.py:121-127)."""
    run_idx = F.regexp_extract(F.col("prompt"), r"digits run (\d+)", 1) \
        .cast("int")
    raw = F.get(F.regexp_extract_all(text, F.lit(_DIGIT_RUN), 0), run_idx)
    value = normalize_ocr_digits_col(raw)
    found = raw.isNotNull() & value.isNotNull()
    return (F.when(found, value),
            F.when(raw.isNotNull(), F.substring(text, 1, 64)),
            F.when(found, F.lit("ok")).otherwise(F.lit("no_data")))


def _with_page_text(registry: DataFrame, kept: DataFrame) -> DataFrame:
    return registry.join(_page_texts(kept), ["doc_id", "page_num"], "left")


def resolve(documents: DataFrame, registry: DataFrame,
            pages: list[int] | None = None,
            kept: DataFrame | None = None) -> DataFrame:
    """L1: resolve pending entities (P2: resolution < 1); returns the whole
    registry, every other row unchanged.

    ``pages`` restricts work to those page numbers (P3,
    core/reader.py:267-268)."""
    kept = kept if kept is not None else kept_text_spans(documents)
    pending = _targeted(pages) & (F.col("resolution") < 1)
    value, context, _ = _read_target(
        F.coalesce(F.col("page_text"), F.lit("")))
    return _with_page_text(registry, kept).select(
        "doc_id", "page_num", "entity_id", "prompt",
        F.when(pending, F.lit(1)).otherwise(F.col("resolution"))
         .alias("resolution"),
        F.when(pending, F.coalesce(value, F.lit("")))
         .otherwise(F.col("value")).alias("value"),
        F.when(pending, context).otherwise(F.col("context")).alias("context"),
        "verified", "confidence")


def verify(documents: DataFrame, registry: DataFrame,
           axes: tuple[int, ...] = (1, 3, 5),
           pages: list[int] | None = None,
           kept: DataFrame | None = None,
           axis_mode: str = "fanout",
           axis_chunk_chars: int = AXIS_CHUNK_CHARS) -> DataFrame:
    """L2: N independent passes (J5 axis tag) -> majority vote (A2) ->
    resolution=2 rewrite (P8) guarded by the all-errors filter (P9: such
    rows keep their old values).  ``pages`` restricts verify targets (P4,
    core/reader.py:465-466).

    ``axis_mode='fanout'`` (default): the reference runs N genuinely
    independent OCR passes (core/reader.py:477-487) because its model
    channel is stochastic; this engine is deterministic, so the N samples
    are derived from ONE pass with a literal axis fan-out (explode) —
    bit-identical output to N passes, N-1 fewer corpus scans.

    ``axis_mode='chunk'``: axis values ARE chunk sizes (the reference's
    axes=[1,3,5] semantics) — axis value ``a`` reads only the first
    ``a * axis_chunk_chars`` characters of the target's page text, so
    samples genuinely disagree (a window that cuts the digit run off sees
    no_data or a truncated value) and the vote exercises its k/N semantics
    end-to-end.  Either way: one join, then a narrow explode by axis."""
    if axis_mode not in ("fanout", "chunk"):
        raise ValueError(f"verify: unknown axis_mode {axis_mode!r}")
    kept = kept if kept is not None else kept_text_spans(documents)
    targeted = _targeted(pages)
    j = _with_page_text(
        registry.filter(targeted).select(
            "doc_id", "page_num", "prompt",
            F.struct(*REGISTRY_COLS).alias("_reg")),
        kept)
    text = F.coalesce(F.col("page_text"), F.lit(""))
    axis_cols = []
    if axis_mode == "chunk":
        j = j.select("*", F.posexplode(F.array(*[F.lit(int(a)) for a in axes]))
                     .alias("axis_idx", "_axis_val"))
        text = text.substr(
            F.lit(1), (F.col("_axis_val") * axis_chunk_chars).cast("int"))
        axis_cols = ["axis_idx"]
    value, context, status = _read_target(text)
    samples = j.select("_reg", *axis_cols, value.alias("value"),
                       context.alias("context"), status.alias("status"))
    if axis_mode == "fanout":
        samples = samples.withColumn(
            "axis_idx", F.explode(F.array(*[F.lit(i)
                                            for i in range(len(axes))])))

    voted = majority_vote(samples, key_cols=("_reg",))
    all_errors = F.col("confidence").startswith("0/")  # P9

    def new(col: Column, old: str) -> Column:
        return F.when(all_errors, F.col(f"_reg.{old}")).otherwise(col) \
            .alias(old)

    updated = voted.select(
        *[F.col(f"_reg.{c}").alias(c)
          for c in ("doc_id", "page_num", "entity_id", "prompt")],
        new(F.lit(2), "resolution"),
        *[new(F.col(c), c)
          for c in ("value", "context", "verified", "confidence")])
    return updated.unionByName(
        registry.filter(~targeted).select(*REGISTRY_COLS))
