"""End-to-end extraction plan: documents(doc_id, spans) -> ordered spans.

``extract`` is the Arrow kernel's zero-shuffle map (``operators.fused``).
``extract_declarative`` is the Catalyst-visible reference plan
(SURVEY §3.6):
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

from ..datapipe.cache import attach_cached_deps
from ..operators.assemble import assemble_spans, with_empty_docs
from ..operators.classify import classify
from ..operators.fused import fused_extract_rows
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


def _kept_spans(classified: DataFrame) -> DataFrame:
    """Keep filter over a ``classified_spans`` frame."""
    # NOTE: prefiltering boilerplate/link kinds here was measured (A/B,
    # interleaved, local[8]) and does NOT help: the keep CaseWhen already
    # short-circuits those branches, so the filter only adds a pass.
    kept = classified.filter(F.col("keep"))
    # normalize media_ref '' -> null so it can't differ from the oracle
    return kept.withColumn(
        "media_ref",
        F.when(F.col("media_ref") == "", None).otherwise(F.col("media_ref")))


def extract_flat(documents: DataFrame,
                 classified: DataFrame | None = None) -> DataFrame:
    """Flat judged output: (doc_id, kind, text, media_ref, order).

    The classified table is consumed by multiple downstream branches
    (layout-id build, layout/non-layout rank split, then the media /
    non-media / claims reconcile branches), and its parse chain (bbox/anchor
    regexes + whitespace collapse) is inlined per reference: codegen's
    subexpression elimination does not reach inside the keep CaseWhen
    branches.  Without a persist each branch re-runs the regex-heavy
    classify scan (profiled: rank stage 56s -> ~16s with the cache at bench
    scale).  MEMORY_AND_DISK so an oversized slice spills; at cluster scale
    the equivalent is a DFS checkpoint of the classified table between the
    scan and reconcile phases — same DAG cut, durable instead of
    executor-local.

    The persisted handle rides on the result (``datapipe.cache``): callers
    free it with ``release_cached(result)`` after materializing.
    ``classified``: a precomputed (usually persisted) ``classified_spans``
    frame owned by the caller; skips the classify scan and the persist here.
    """
    cached = []
    if classified is None:
        from pyspark import StorageLevel
        classified = classified_spans(documents).persist(
            StorageLevel.MEMORY_AND_DISK)
        cached = [classified]
    ranked = assign_rank(_kept_spans(classified))
    out = reconcile_and_order(ranked)
    return attach_cached_deps(out, *cached)


def extract_declarative(documents: DataFrame) -> DataFrame:
    """Nested judged output via the fully Catalyst-visible plan: joins and
    windows end to end, with salted assembly so no single task holds a
    whole mega doc.  Same output as ``extract`` (tests enforce it); carries
    ``extract_flat``'s cached handle for ``release_cached``."""
    flat = extract_flat(documents)
    return attach_cached_deps(
        with_empty_docs(assemble_spans(flat), documents), flat)


def extract(documents: DataFrame) -> DataFrame:
    """Nested judged output: (doc_id, spans array<struct<kind,text,media_ref,order>>),
    one row per input doc (empty array when nothing survives).

    ``operators.fused.fused_extract_rows``: one zero-shuffle ``mapInArrow``
    over the whole-document rows, in which the Arrow kernel classifies,
    cleans and orders each batch of documents.  Building the plan starts no
    Spark job.  A document of any size is one Arrow row: the scan already
    holds each input row whole in the JVM, and any plan holds each output
    row whole, so the kernel adds no per-row ceiling of its own
    (``test_single_100k_span_mega_doc`` runs a 150k-span doc through the
    slow pool).  ``extract_declarative`` is the Catalyst-visible reference
    plan, held equal to this one by the tests.
    """
    return fused_extract_rows(documents)
