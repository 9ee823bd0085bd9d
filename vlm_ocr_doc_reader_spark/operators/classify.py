"""The density classifier, a second keep signal as Catalyst expressions.

The engine's span classifier is the Arrow kernel (``operators.fused``):
``extract``, the ``extract_text`` query, the levels' scan/resolve/verify
and ``describe`` all read its kept spans.  ``density_classify`` is the
Boilerpipe-style density classifier, with its own DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def density_classify(spans: DataFrame, id_col: str = "doc_id",
                     kind_col: str = "kind", text_col: str = "text",
                     offset_col: str = "offset") -> DataFrame:
    """Boilerpipe-style number-of-words/link-density content classifier
    (Kohlschuetter et al., "Boilerplate Detection using Shallow Text
    Features", WSDM 2010 — the published NumWordsRulesClassifier decision
    tree), as a second, density-based keep signal alongside the engine's
    pattern classifier (``spec.classify_keep``): the pattern rules know
    the corpus's navigation idioms; the density rules need none.

    Block link density is 1.0 for ``kind='link'`` blocks (html_to_spans
    collapses link-dominated blocks to that kind) and 0.0 otherwise;
    ``boilerplate``-kind blocks are rejected outright, media anchors pass.
    The published tree, per block with (prev, curr, next) word counts:

      curr link density > 1/3                      -> boilerplate
      else if prev link density <= 0.555:
          content iff curr > 16 or next > 15 or prev > 4 words
      else: content iff curr > 40 or next > 17 words

    Output: input + (n_words int, keep boolean).

    Scale shape: ONE window exchange on the doc key (lag/lead share the
    partitioning); every feature is a narrow expression — exactly
    SQL-expressible, so the operator is DuckDB-oracled."""
    from pyspark.sql import Window
    words = F.when(
        F.col(text_col).isNull(), 0).otherwise(
        F.size(F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                        lambda x: x != "")))
    ld = F.when(F.col(kind_col) == "link", 1.0).otherwise(0.0)
    w = Window.partitionBy(id_col).orderBy(offset_col)
    df = (spans.withColumn("n_words", words.cast("int"))
          .withColumn("_ld", ld))
    prev_w = F.coalesce(F.lag("n_words").over(w), F.lit(0))
    next_w = F.coalesce(F.lead("n_words").over(w), F.lit(0))
    prev_ld = F.coalesce(F.lag("_ld").over(w), F.lit(0.0))
    dense_keep = F.when(F.col("_ld") > 1.0 / 3.0, F.lit(False)) \
        .when(prev_ld <= 0.555,
              (F.col("n_words") > 16) | (next_w > 15) | (prev_w > 4)) \
        .otherwise((F.col("n_words") > 40) | (next_w > 17))
    keep = F.when(F.col(kind_col) == "boilerplate", F.lit(False)) \
        .when(F.col(kind_col) == "image", F.lit(True)) \
        .otherwise(dense_keep)
    return df.withColumn("keep", keep).drop("_ld")
