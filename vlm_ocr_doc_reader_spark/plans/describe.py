"""The reference's front-door artifact: ``full_description``.

The reference CLI's primary output is a ``DocumentData`` object —
``{text, structure: {headers: [{level, title, page}]}, tables: []}``
(/root/reference/02_src/vlm_ocr_doc_reader/schemas/document.py:41-52, CLI
command at cli.py:242,362; text assembled by joining batch texts with
'\\n\\n' at core/reader.py:190-207).  The span-sequence output subsumes it,
but this plan produces the same-shaped artifact as one table so a reference
user keeps their front door:

  (doc_id, text, headers array<struct<level int, title string, page int>>,
   tables array<string>)            -- tables always empty (README_EN.md:88)

``document_structure`` is the flat headers view (D6 parity: HeaderInfo.level
recovered deterministically via spec.heading_level).  Both read the Arrow
kernel: the headers come from its flat kept-span map
(``operators.fused.fused_kept_spans``), the text from ``extract``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..extraction import spec
from ..operators.fused import fused_kept_spans
from .extract import extract


def heading_level_col(cleaned: Column) -> Column:
    """Catalyst mirror of ``spec.heading_level`` (parity-tested): '#'-run
    when present, else word-count heuristic."""
    hashes = F.length(F.regexp_extract(cleaned, r"^#+", 0))
    spaces = F.length(cleaned) - F.length(
        F.replace(cleaned, F.lit(" "), F.lit("")))
    nwords = F.when(cleaned == "", F.lit(0)).otherwise(spaces + 1)
    by_len = (F.when(nwords <= 2, F.lit(1))
               .when(nwords <= 4, F.lit(2))
               .otherwise(F.lit(3)))
    return F.when(hashes > 0,
                  F.least(hashes, F.lit(spec.MAX_HEADING_LEVEL))) \
            .otherwise(by_len).cast("int")


def heading_title_col(cleaned: Column) -> Column:
    """Catalyst mirror of ``spec.heading_title``."""
    return F.when(cleaned.startswith("#"),
                  F.trim(F.regexp_replace(cleaned, r"^#+", ""))) \
            .otherwise(cleaned)


def document_structure(documents: DataFrame) -> DataFrame:
    """D6 headers table: (doc_id, level, title, page_num) for kept heading
    spans.  page_num is 1-based = offset + 1 (renderer.py:89-90 convention).

    The kept headings of the kernel's flat map (``fused_kept_spans``; a
    span with a null offset or kind is quarantined, P5) and one narrow
    projection: no shuffle at all.
    """
    kept = fused_kept_spans(documents).filter(F.col("kind") == "heading")
    return kept.select(
        "doc_id",
        heading_level_col(F.col("cleaned")).alias("level"),
        heading_title_col(F.col("cleaned")).alias("title"),
        (F.col("offset") + 1).cast("int").alias("page_num"))


def full_description(documents: DataFrame) -> DataFrame:
    """One row per doc: (doc_id, text, headers, tables) — the DocumentData
    analog.  Text is the '\\n\\n' join of the text spans of ``extract``'s
    output in reading order (``order``: XY-cut for layout docs, media
    claims applied); headers carry recovered levels; tables is the
    reference's always-empty list.

    Scale shape: the text side is ``extract``'s zero-shuffle map, one row
    per input doc, sorted by ``order`` inside each row; the headers side
    is ``document_structure`` plus one hash aggregation on doc_id
    (sort_array(collect_list) keeps header order deterministic, A4); one
    join on doc_id stitches them.
    """
    ordered = F.sort_array(F.transform(
        F.filter("spans", lambda s: s["kind"] == "text"),
        lambda s: F.struct(s["order"].alias("o"), s["text"].alias("t"))))
    text_df = extract(documents).select(
        "doc_id",
        F.array_join(F.transform(ordered, lambda s: s["t"]), "\n\n")
         .alias("text"))
    hdr_df = (document_structure(documents)
              .groupBy("doc_id")
              .agg(F.transform(
                  F.sort_array(F.collect_list(
                      F.struct(F.col("page_num").alias("o"),
                               F.struct(F.col("level"), F.col("title"),
                                        F.col("page_num").alias("page"))
                               .alias("h")))),
                  lambda s: s.h).alias("headers")))
    empty_headers = F.array().cast(
        "array<struct<level:int,title:string,page:int>>")
    return (text_df
            .join(hdr_df, "doc_id", "left")
            .select("doc_id", "text",
                    F.coalesce(F.col("headers"), empty_headers)
                     .alias("headers"),
                    F.array().cast("array<string>").alias("tables")))
