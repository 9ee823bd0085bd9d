"""Incremental / streaming execution of the extraction pipeline.

The reference is a batch pipeline with resumable incremental state
(SURVEY §2.9); its streaming-equivalent in Spark is Structured Streaming
over the landing directory with ``foreachBatch``: each micro-batch runs the
same deterministic ``extract`` plan, appends results, and commits the
checkpoint manifest — so batch and streaming share one code path (T3:
per-partition incremental save generalizes to per-micro-batch commit).

``Trigger.AvailableNow`` makes this the exactly-once incremental-batch mode
the reference's "do only what is not yet done" loop approximates
(decision_001_resolution_levels.md:48): Spark's own streaming checkpoint
tracks consumed files, our manifest tracks completed docs, and the anti-join
guards against replays across the two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.fused import RUN_OUTPUT_SCHEMA
from ..plans.extract import extract
from ..state.manifest import check_output_layout, commit_phase, pending_docs

DOCS_SCHEMA = ("doc_id string, spans array<struct<kind:string,text:string,"
               "media_ref:string,offset:int>>")


def run_incremental(spark: SparkSession, input_dir: str, output_dir: str,
                    state_dir: str, checkpoint_dir: str,
                    available_now: bool = True):
    """Stream documents from ``input_dir`` through extraction into
    ``output_dir`` with manifest commits per micro-batch.  Returns the
    streaming query (already awaited when ``available_now``).

    Raises ``ValueError`` before the stream starts if ``output_dir`` uses
    the legacy ``run_id=`` partitioned layout — the same guard as the CLI
    extract path, applied up front so no micro-batch ever appends a flat
    file into a directory partition discovery would then reject.

    Each micro-batch writes its :func:`extract` output (building that plan
    starts no Spark job), reads its own run back with the known output
    schema (no footer-merge job) and commits the manifest in one job."""
    check_output_layout(output_dir)

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..state.manifest import new_run_id
        todo = pending_docs(batch, spark, state_dir, "extract")
        # atomic-in-effect commit: output tagged+written first, manifest
        # referencing the run last (read_committed drops orphans of a crash
        # between the two; Spark's checkpoint may replay the batch, and the
        # pending anti-join makes the replay a no-op for committed docs)
        run_id = new_run_id()
        # run_id as a normal column (one flat layout shared with legacy
        # outputs — see cli._run_extract)
        extract(todo).withColumn("run_id", F.lit(run_id)) \
            .write.mode("append").parquet(output_dir)
        committed = (spark.read.schema(RUN_OUTPUT_SCHEMA)
                     .parquet(output_dir)
                     .filter(F.col("run_id") == run_id).drop("run_id"))
        commit_phase(committed, spark, state_dir, "extract", run_id=run_id)

    stream = (spark.readStream
              .schema(DOCS_SCHEMA)
              .parquet(input_dir))
    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="10 seconds").start()
