"""Registry table operators — the reference's Resolution-Levels state machine
as DataFrame transforms.

Registry schema (reference D3, core/state.py:45-67), widened with doc_id
since the engine processes the whole corpus, not one document:

  (doc_id string, page_num int, entity_id string, prompt string,
   resolution int, value string, context string,
   verified boolean, confidence string)

Operators:
  * ``upsert_entries`` — merge-by-key (J1, core/state.py:795-822): the
    Iceberg equivalent is ``MERGE INTO``; the engine-agnostic form here is a
    full-outer join + coalesce, updates win.  Empty entity_id rows skipped.
  * ``validate_entries`` — P5, operations/scan.py:144-156 +
    core/state.py:156-175: coerce + quarantine side-output instead of
    per-field isinstance checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REGISTRY_COLS = ("doc_id", "page_num", "entity_id", "prompt", "resolution",
                 "value", "context", "verified", "confidence")

_KEY = ["doc_id", "entity_id"]


def upsert_entries(registry: DataFrame, updates: DataFrame) -> DataFrame:
    """Merge ``updates`` into ``registry`` by (doc_id, entity_id).

    Update row wins when the key exists; new keys append; updates with
    empty/null entity_id are skipped (core/state.py:810-812).  At scale this
    compiles to one shuffle-hash/sort-merge join on the merge key (an Iceberg
    MERGE INTO does the same under copy-on-write).
    """
    vals = [c for c in REGISTRY_COLS if c not in _KEY]
    u = (updates.filter(F.col("entity_id").isNotNull()
                        & (F.col("entity_id") != ""))
         .select(*_KEY, *[F.col(c).alias(f"_u_{c}") for c in vals])
         .withColumn("_u_present", F.lit(True)))
    r = registry.select(*REGISTRY_COLS)
    joined = r.join(u, _KEY, "full_outer")
    # WHEN MATCHED: whole-row replace (state.py:812), not per-field coalesce
    hit = F.col("_u_present").isNotNull()
    merged = [F.when(hit, F.col(f"_u_{c}")).otherwise(F.col(c)).alias(c)
              for c in vals]
    return joined.select(*[F.col(k) for k in _KEY], *merged) \
                 .select(*REGISTRY_COLS)


def validate_entries(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split raw scan-produced entries into (valid, quarantine).

    Valid: page_num >= 1 and non-null prompt (scan.py:144-156).  Types are
    enforced by cast; rows failing the predicate go to the quarantine
    side-output instead of being silently dropped.
    """
    typed = raw.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("page_num").cast("int").alias("page_num"),
        F.col("entity_id").cast("string").alias("entity_id"),
        F.col("prompt").cast("string").alias("prompt"),
        F.coalesce(F.col("resolution").cast("int"), F.lit(0)).alias("resolution"),
        F.col("value").cast("string").alias("value"),
        F.col("context").cast("string").alias("context"),
        F.coalesce(F.col("verified").cast("boolean"), F.lit(False)).alias("verified"),
        F.col("confidence").cast("string").alias("confidence"))
    good = F.col("page_num").isNotNull() & (F.col("page_num") >= 1) \
        & F.col("prompt").isNotNull() & (F.trim(F.col("prompt")) != "")
    return typed.filter(good), typed.filter(~good)


def synth_entity_id_col() -> F.Column:
    """F4 (scan.py:159-166): ``scan_{page}_{sha256(prompt)[:8]}``."""
    return F.concat(F.lit("scan_"), F.col("page_num").cast("string"),
                    F.lit("_"),
                    F.substring(F.sha2(F.col("prompt"), 256), 1, 8))
