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
from pyspark.sql import functions as F

from ..plans.extract import extract
from ..sources.readers import DOCUMENTS_SCHEMA
from ..state.manifest import check_output_layout, commit_run, pending_docs


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

    The stream reads the documents' pinned schema and drops null doc_ids,
    as ``read_documents`` does.  Each micro-batch is the CLI's run:
    anti-join against the manifest, then ``commit_run`` (write the
    :func:`extract` output, commit the run).  Spark's checkpoint may replay
    a batch; the pending anti-join makes the replay a no-op for committed
    docs."""
    check_output_layout(output_dir)

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        todo = pending_docs(batch, spark, state_dir, "extract")
        commit_run(extract(todo), spark, output_dir, state_dir, "extract")

    stream = (spark.readStream
              .schema(DOCUMENTS_SCHEMA)
              .parquet(input_dir)
              .filter(F.col("doc_id").isNotNull()))
    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="10 seconds").start()
