"""Resolution Levels pipeline: scan (L0) -> resolve (L1) -> verify (L2).

Set-at-a-time mirror of the reference's three entry points
(core/reader.py:128-215, 237-408, 427-532) with the model channel replaced
by deterministic operators:

  * scan: derive the precision-target registry from the kept text spans
    of the Arrow kernel (``operators.fused.fused_kept_spans``, the same
    per-span stage ``extract`` runs).  Every digit run of >= MIN_DIGITS
    digits in a kept text span becomes a registry entry (the reference's
    VLM emits "atomic, concrete" targets like ИНН/ОГРН numbers —
    scan.py:22-67; our deterministic analog targets exactly those digit
    identifiers).  entity_id = F4 hash synth.
  * resolve: re-extract each target's value from its span (M2), normalize
    digits (F8), status ok/no_data; resolution 0 -> 1 (P6/P7).
  * verify: N independent resolve axes -> majority vote (A2) -> resolution 2
    with confidence 'k/N'.  The engine is deterministic, so verify is
    idempotent and votes are unanimous — strictly stronger than the
    reference's documented non-idempotent verify
    (decision_002_verify.md:44); the vote operator's tie/error semantics are
    covered by the ported unit suite instead.

All stages are DataFrame ops; the kept-span input is a zero-shuffle map, and
the only shuffles are the groupBys/joins on (doc_id[, entity_id]) —
well-distributed keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import normalize_ocr_digits_col
from ..operators.fused import fused_kept_spans
from ..operators.registry import (apply_ocr_result, pending_entities,
                                  synth_entity_id_col, upsert_entries)
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


def scan(documents: DataFrame, kept: DataFrame | None = None) -> DataFrame:
    """L0: build the registry (doc_id, page_num, entity_id, prompt,
    resolution=0, ...) from digit-run targets in kept text spans.

    page_num is 1-based like the reference (renderer.py:89-90):
    page_num = offset + 1.  prompt encodes (span offset, run index) so
    resolve can re-locate the target without re-scanning.
    """
    kept = kept if kept is not None else kept_text_spans(documents)
    runs = (kept
            .select("doc_id",
                    (F.col("offset") + 1).cast("int").alias("page_num"),
                    F.posexplode(
                        F.regexp_extract_all(F.col("cleaned"),
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


def _with_run_idx(registry: DataFrame) -> DataFrame:
    """Recover the digit-run index from the prompt (the prompt is the
    machine-readable task description, as in the reference where resolve
    re-reads the prompt text — reader.py:307-313)."""
    return registry.withColumn(
        "run_idx",
        F.regexp_extract(F.col("prompt"), r"digits run (\d+)", 1).cast("int"))


def _ocr_pass(kept_spans: DataFrame, targets: DataFrame,
              axes: tuple[int, ...] | None = None,
              chunk_chars: int = AXIS_CHUNK_CHARS) -> DataFrame:
    """Shared resolve machinery (core/reader.py:277-377): bind each target
    back to its span (broadcast-friendly equi-join on doc_id+page) and
    extract + digit-normalize its value; empty -> no_data (F5 semantics,
    ocr_client.py:121-127).  ``kept_spans`` is the kept-text frame
    (``kept_text_spans``) so callers control how often the corpus is
    scanned.

    ``axes``: axis-as-chunk-size sampling, one output row per axis
    (``axis_idx``): axis value ``a`` reads only the first
    ``a * chunk_chars`` characters of the target's span — the reference's
    per-axis context variation (axes are different chunk sizes producing
    genuinely different samples, core/reader.py:477-487 / decision_002), so
    votes can truly disagree (an axis whose window cuts the digit run off
    sees no_data or a truncated value).  Same scale shape either way: ONE
    equi-join, then a narrow explode by axis — never a per-axis corpus
    rescan."""
    kept = kept_spans.select(
        "doc_id", (F.col("offset") + 1).alias("page_num"), "cleaned")
    t = targets.select("doc_id", "page_num", "entity_id", "run_idx")
    j = t.join(kept, ["doc_id", "page_num"], "left")
    text = F.coalesce(F.col("cleaned"), F.lit(""))
    axis_cols = []
    if axes is not None:
        j = j.select("*", F.posexplode(F.array(*[F.lit(int(a)) for a in axes]))
                     .alias("axis_idx", "_axis_val"))
        text = text.substr(
            F.lit(1), (F.col("_axis_val") * chunk_chars).cast("int"))
        axis_cols = ["axis_idx"]
    runs = F.regexp_extract_all(text, F.lit(_DIGIT_RUN), 0)
    raw = F.get(runs, F.col("run_idx"))
    value = normalize_ocr_digits_col(raw)
    context = F.substring(text, 1, 64)
    return j.select(
        "doc_id", "entity_id", *axis_cols,
        F.when(raw.isNotNull() & value.isNotNull(), value)
         .otherwise(F.lit(None).cast("string")).alias("value"),
        F.when(raw.isNotNull(), context).otherwise(F.lit(None).cast("string"))
         .alias("context"),
        F.when(raw.isNull() | value.isNull(), F.lit("no_data"))
         .otherwise(F.lit("ok")).alias("status"))


def resolve(documents: DataFrame, registry: DataFrame,
            pages: list[int] | None = None,
            kept: DataFrame | None = None) -> DataFrame:
    """L1: resolve pending entities; returns the upserted registry.

    ``pages`` restricts work to those page numbers (P3,
    core/reader.py:267-268)."""
    registry = _pin_multi_ref(registry)
    pending = _with_run_idx(pending_entities(registry))
    if pages:
        pending = pending.filter(F.col("page_num").isin(pages))
    kept = kept if kept is not None else kept_text_spans(documents)
    results = _ocr_pass(kept, pending)
    updated = apply_ocr_result(pending.drop("run_idx"), results, resolution=1)
    out = upsert_entries(registry, updated)
    from ..datapipe.cache import attach_cached_deps
    return attach_cached_deps(out, registry)


def _pin_multi_ref(registry: DataFrame) -> DataFrame:
    """Persist a registry frame that the caller is about to reference
    several times (resolve reads it twice, verify three times): without
    the pin Catalyst inlines the registry's WHOLE upstream DAG — for
    verify-after-resolve that is two extra executions of the resolve
    join/upsert chain per run, measured as ~30 mostly-idle sequential
    stages (2.4 CPU-s over a 2.7 s wall at sf0.1).  No-op when the
    caller already persisted it.  The handle is attached to the result
    via ``attach_cached_deps`` (the package-wide cache lifecycle), so
    ``release_cached``/``release_all_cached`` free it."""
    from ..datapipe.cache import _is_persisted
    if _is_persisted(registry):
        return registry
    from pyspark import StorageLevel
    return registry.persist(StorageLevel.MEMORY_AND_DISK)


def verify(documents: DataFrame, registry: DataFrame,
           axes: tuple[int, ...] = (1, 3, 5),
           pages: list[int] | None = None,
           kept: DataFrame | None = None,
           axis_mode: str = "fanout",
           axis_chunk_chars: int = AXIS_CHUNK_CHARS) -> DataFrame:
    """L2: N independent passes (J5 unionByName + axis tag) -> majority vote
    (A2) -> resolution=2 rewrite (P8) guarded by the all-errors filter (P9).
    ``pages`` restricts verify targets (P4, core/reader.py:465-466).

    ``axis_mode='fanout'`` (default): the reference runs N genuinely
    independent OCR passes (core/reader.py:477-487) because its model
    channel is stochastic; this engine is deterministic, so the N samples
    are derived from ONE pass with a literal axis fan-out (explode) —
    bit-identical output to N passes, N-1 fewer corpus scans.

    ``axis_mode='chunk'``: axis values ARE chunk sizes (the reference's
    axes=[1,3,5] semantics) — each axis reads a different-length context
    window, so samples genuinely disagree and the vote exercises its k/N
    semantics end-to-end (see ``_ocr_pass``)."""
    if axis_mode not in ("fanout", "chunk"):
        raise ValueError(f"verify: unknown axis_mode {axis_mode!r}")
    registry = _pin_multi_ref(registry)
    targets = _with_run_idx(registry)
    if pages:
        targets = targets.filter(F.col("page_num").isin(pages))
    kept = kept if kept is not None else kept_text_spans(documents)
    if axis_mode == "chunk":
        samples = _ocr_pass(kept, targets, axes, axis_chunk_chars)
    else:
        samples = (_ocr_pass(kept, targets)
                   .withColumn("axis_idx",
                               F.explode(F.array(*[F.lit(i)
                                                   for i in
                                                   range(len(axes))]))))

    voted = majority_vote(samples, key_cols=("doc_id", "entity_id"))
    voted = voted.filter(~F.col("confidence").startswith("0/"))  # P9
    updates = (registry.drop("value", "context", "verified", "confidence")
               .join(voted, ["doc_id", "entity_id"])
               .select("doc_id", "page_num", "entity_id", "prompt",
                       F.lit(2).alias("resolution"),
                       "value", "context",
                       "verified", "confidence"))
    out = upsert_entries(registry, updates)
    from ..datapipe.cache import attach_cached_deps
    return attach_cached_deps(out, registry)
