"""End-to-end extraction plan: documents(doc_id, spans) -> ordered spans.

Pipeline (SURVEY §3.6):
  read documents -> posexplode spans -> classify (Catalyst, M1)
  -> keep filter -> XY-cut rank for layout docs (applyInPandas, W8)
  -> media-anchor reconciliation + order (joins/windows, M2)
  -> salted per-doc assembly -> (doc_id, spans)

The judged invariant: output spans equal the single-node oracle's
(kind, text, media_ref, order) sequence per doc_id exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.assemble import assemble_spans, with_empty_docs
from ..operators.classify import classify
from ..operators.ordering import assign_rank
from ..operators.reconcile import reconcile_and_order


def explode_spans(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans) -> flat (doc_id, kind, text, media_ref, offset)."""
    return (documents
            .select("doc_id", F.explode("spans").alias("s"))
            .select("doc_id",
                    F.col("s.kind").alias("kind"),
                    F.col("s.text").alias("text"),
                    F.col("s.media_ref").alias("media_ref"),
                    F.col("s.offset").alias("offset")))


def classified_spans(documents: DataFrame) -> DataFrame:
    """Public precompute hook: explode + null-guard + classify, the frame
    every downstream plan branches from.  Compute it once, persist it, and
    pass it via ``classified=`` (extract_flat / describe plans) so a
    composed artifact classifies the corpus ONCE — the same hook pattern as
    ``plans.levels.kept_text_spans``."""
    from ..operators.classify import classify
    spans = explode_spans(documents).filter(
        F.col("offset").isNotNull() & F.col("kind").isNotNull())
    return classify(spans)


def _kept_spans(documents: DataFrame,
                persist_parsed: bool = True,
                classified: DataFrame | None = None) -> DataFrame:
    """Explode + parse + classify + keep-filter.

    The parse chain (bbox/anchor regexes + whitespace collapse) feeds many
    downstream references; Catalyst inlines it per reference and codegen's
    subexpression elimination does not reach inside the keep CaseWhen
    branches, so evaluating lazily costs ~6x (profiled 17s vs 2.6s at bench
    scale).  Persisting the parsed projection pins single evaluation; on a
    cluster the same cut is a checkpoint of the parsed table.

    ``classified``: a precomputed (usually persisted) ``classified_spans``
    frame; skips the classify scan here entirely.
    """
    # NOTE: prefiltering boilerplate/link kinds here was measured (A/B,
    # interleaved, local[8]) and does NOT help: the keep CaseWhen already
    # short-circuits those branches, so the filter only adds a pass.
    if classified is not None:
        parsed = classified
    else:
        parsed = classified_spans(documents)
        if persist_parsed:
            from pyspark import StorageLevel
            parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
    kept = parsed.filter(F.col("keep"))
    # normalize media_ref '' -> null so it can't differ from the oracle
    return kept.withColumn(
        "media_ref",
        F.when(F.col("media_ref") == "", None).otherwise(F.col("media_ref")))


def extract_flat_fused(documents: DataFrame) -> DataFrame:
    """Flat judged output via the fused per-doc Arrow stage (one shuffle).
    Same result as ``extract_flat`` — equivalence is enforced by tests."""
    from ..operators.fused import fused_reconcile_order
    return fused_reconcile_order(_kept_spans(documents))


def extract_flat(documents: DataFrame,
                 persist_intermediate: bool = True,
                 classified: DataFrame | None = None) -> DataFrame:
    """Flat judged output: (doc_id, kind, text, media_ref, order).

    The kept table is consumed by multiple downstream branches (layout-id
    build, layout/non-layout rank split, then the media / non-media / claims
    reconcile branches).  Without a persist each branch re-runs the
    regex-heavy classify scan (profiled: rank stage 56s -> ~16s with the
    cache at bench scale).  MEMORY_AND_DISK so an oversized slice spills; at
    cluster scale the equivalent is a DFS checkpoint of the classified table
    between the scan and reconcile phases — same DAG cut, durable instead of
    executor-local.
    """
    cached = []
    if persist_intermediate and classified is None:
        # persist through the package cache lifecycle (attach + release)
        # instead of _kept_spans' bare persist, so gate/bench callers can
        # free the handle between passes — which is why the contract used
        # to run this path persist-free and re-ran the classify scan once
        # per reconcile branch (~3x the wall time at sf0.1)
        from pyspark import StorageLevel
        classified = classified_spans(documents).persist(
            StorageLevel.MEMORY_AND_DISK)
        cached = [classified]
    kept = _kept_spans(documents, persist_parsed=persist_intermediate,
                       classified=classified)
    ranked = assign_rank(kept)
    out = reconcile_and_order(ranked)
    from ..datapipe.cache import attach_cached_deps
    return attach_cached_deps(out, *cached)


def extract(documents: DataFrame, strategy: str = "fused",
            fused_max_spans: int | None = 100_000) -> DataFrame:
    """Nested judged output: (doc_id, spans array<struct<kind,text,media_ref,order>>),
    one row per input doc (empty array when nothing survives).

    strategy='fused' (default): one zero-shuffle ``mapInArrow`` over the
    whole-document rows; the Arrow kernel (``operators.fused``) classifies,
    cleans and orders each batch of documents.
    strategy='fused_raw': the landing-shape plan — explode to raw spans,
    cheap JVM prefilter, ONE hash exchange on doc_id, grouped Arrow
    extraction (the path for inputs that arrive already exploded).
    strategy='declarative': joins+windows end to end (salted assembly for
    mega docs) — the fully Catalyst-visible plan.  All produce identical
    output (tests enforce it).

    ``fused_max_spans``: the fused strategy ships each document to a Python
    worker as ONE Arrow row, so a document bigger than worker memory would
    OOM the stage.  Docs with more spans than this threshold are routed to
    the declarative (salted, never-single-row) path at runtime and the
    results unioned — a decision made here, not by the caller.  The probe
    is one JVM-only scan with limit-1 early exit; when no doc exceeds the
    threshold the plan stays the pure zero-shuffle Arrow map.  ``None``
    disables routing (plan-shape tests / pre-validated corpora).
    """
    if strategy == "fused":
        # rows are whole documents -> zero-shuffle map; rows map 1:1 so no
        # empty-doc repair join is needed either
        from ..operators.fused import fused_extract_rows
        if fused_max_spans is not None:
            # probe only the offset leaf of the span struct: array length is
            # the same whichever subfield is counted, and nested-schema
            # pruning then skips the text payload — measured 6.5x cheaper
            # than size(spans) on the bench corpus
            big_cond = F.coalesce(
                F.size(F.col("spans").getField("offset"))
                > F.lit(fused_max_spans), F.lit(False))
            if not documents.filter(big_cond).isEmpty():
                small = documents.filter(~big_cond)
                big = documents.filter(big_cond)
                assembled = assemble_spans(extract_flat(big))
                return (fused_extract_rows(small)
                        .unionByName(with_empty_docs(assembled, big)))
        return fused_extract_rows(documents)
    if strategy == "fused_raw":
        from ..operators.fused import fused_extract_raw
        # explode_outer keeps empty/null-spans docs as one null row, which
        # extract_doc quarantines -> the doc still emits an empty spans row
        raw = (documents.select("doc_id",
                                F.explode_outer("spans").alias("s"))
               .select("doc_id", F.col("s.kind").alias("kind"),
                       F.col("s.text").alias("text"),
                       F.col("s.media_ref").alias("media_ref"),
                       F.col("s.offset").alias("offset")))
        return fused_extract_raw(raw)
    assembled = assemble_spans(extract_flat(documents))
    return with_empty_docs(assembled, documents)
