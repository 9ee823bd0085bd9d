"""Streaming deduplication of a document/event firehose.

Training-data ingest sees the same document repeatedly (re-crawls, retries,
mirror feeds); batch dedup (datapipe/dedup.py) handles the corpus at rest,
while THIS module drops repeats in flight with Spark's NATIVE streaming
dedup operators — no custom state code:

  * ``dropDuplicatesWithinWatermark(keys)``: keeps ONE arrival of each
    key (processing order, not event time, picks the survivor within a
    micro-batch) and drops repeats that arrive within the watermark
    delay of it; key state older than the watermark is evicted, so the state store
    is bounded by (key arrival rate x watermark) — the property that keeps
    this runnable forever at 100 TB/day.  Repeats farther apart than the
    watermark can reappear (by design: that is the price of bounded state);
    the downstream batch dedup is the backstop.
  * ``dropDuplicates(keys)`` (exact mode): keeps state for every key ever
    seen — exact forever, unbounded state.  Only for bounded backfills.

The file runner's default key is ``content_hash``: key documents with
``sources.readers.with_content_hash``, the version identity the
checkpoint manifest records, so "same doc" means the same thing in
flight and at rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def dedup_stream(stream: DataFrame, key_cols: tuple[str, ...],
                 ts_col: str = "ts", watermark: str = "10 minutes",
                 exact: bool = False) -> DataFrame:
    """First-arrival dedup on ``key_cols``.

    Default: watermark-bounded (``dropDuplicatesWithinWatermark``) — the
    scale mode.  ``exact=True`` switches to unbounded-state
    ``dropDuplicates`` and must be an explicit choice (same opt-in
    discipline as the exact crossJoin in embedding_near_dups)."""
    keys = list(key_cols)
    if exact:
        return stream.dropDuplicates(keys)
    wm = stream.withWatermark(ts_col, watermark)
    return wm.dropDuplicatesWithinWatermark(keys)


def run_dedup_stream(spark: SparkSession, input_dir: str, output_dir: str,
                     checkpoint_dir: str, schema: str,
                     key_cols: tuple[str, ...] = ("content_hash",),
                     ts_col: str = "ts",
                     watermark: str = "10 minutes"):
    """File-source incremental run (Trigger.AvailableNow): land exactly the
    first arrival of each key into ``output_dir``."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    deduped = dedup_stream(stream, key_cols, ts_col, watermark)
    q = (deduped.writeStream
         .format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q
