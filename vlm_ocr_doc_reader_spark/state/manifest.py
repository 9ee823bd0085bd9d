"""Checkpoint manifest: resumable incremental state at corpus scale (T1/J7).

The reference persists a per-document state machine
(none→scan→resolved→verified, core/state.py:17-22,842-850) and re-derives
pending work from it on every call, so a rerun "does only what is not yet
done" (decision_001_resolution_levels.md:48).  At 10^12 docs that state
machine becomes an append-only manifest table:

  (doc_id string, phase string, content_hash string, n_spans long,
   ts timestamp, run_id string)

The table is its own changelog: each commit's rows share one ``run_id`` and
one ``ts``, so per-commit lineage and throughput (``read_metrics``) are a
grouping of it, not a second table written by a second job.  A restarted
job anti-joins its input against the manifest (J7 — the backbone of
resumability) and processes only the remainder; outputs are appended, so
completed work is never recomputed or rewritten.

A run commit (``commit_run``, the CLI's and the streaming runner's one
write-then-commit) leaves ``content_hash`` NULL: the run's output row,
keyed ``(doc_id, run_id)``, is the record, and a doc_id-keyed resume reads
only ``doc_id``.  ``commit_phase`` is the frame-level commit; with
``input_docs`` it records the input version hash that
``pending_docs(by_version=True)`` compares, and without it a hash of the
processed row, as manifests written before run commits hold.

Plain parquet directories stand in for Iceberg tables in this sandbox (same
append/anti-join pattern; MERGE-based dedup would replace the anti-join on a
real Iceberg catalog).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.fused import RUN_OUTPUT_SCHEMA
from ..sources.readers import with_content_hash

MANIFEST_SCHEMA = ("doc_id string, phase string, content_hash string, "
                   "n_spans long, ts timestamp, run_id string")


def manifest_path(state_dir: str) -> str:
    return os.path.join(state_dir, "manifest")


def recover_manifest(state_dir: str) -> bool:
    """Crash recovery for the compaction swap: if a crash left the manifest
    renamed aside (``manifest.old`` present, ``manifest`` missing), rename
    it back.  Returns True when a recovery happened.  Idempotent; called by
    every manifest read and by ``compact_manifest`` itself, so no consumer
    can observe the swap's intermediate state as data loss."""
    path = manifest_path(state_dir)
    old = path + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
        return True
    return False


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    try:
        return spark.read.schema(schema).parquet(path)
    except Exception:
        return spark.createDataFrame([], schema)


def read_manifest(spark: SparkSession, state_dir: str,
                  phase: str | None = None) -> DataFrame:
    recover_manifest(state_dir)
    m = _read_or_empty(spark, manifest_path(state_dir), MANIFEST_SCHEMA)
    if phase is not None:
        m = m.filter(F.col("phase") == phase)
    return m


def pending_docs(documents: DataFrame, spark: SparkSession, state_dir: str,
                 phase: str, by_version: bool = False) -> DataFrame:
    """Input docs not yet completed for ``phase`` (left-anti join, J7).

    ``by_version=True`` keys the check on (doc_id, content_hash of the input
    spans): a document whose content changed since its manifest entry is
    treated as new work — the reference's content-hash workspace identity
    (core/state.py:225-241,283-298)."""
    if by_version:
        done = read_manifest(spark, state_dir, phase) \
            .select("doc_id", "content_hash")
        return with_content_hash(documents) \
            .join(done, ["doc_id", "content_hash"], "left_anti") \
            .drop("content_hash")
    done = read_manifest(spark, state_dir, phase).select("doc_id")
    return documents.join(done, "doc_id", "left_anti")


def new_run_id() -> str:
    """Lineage id for one commit unit (a run / micro-batch).  Outputs tagged
    with it and manifest rows referencing it make the output-write +
    manifest-commit pair atomic in effect: ``read_committed`` drops output
    rows whose run was never committed."""
    return uuid.uuid4().hex


def _append(entries: DataFrame, state_dir: str, phase: str,
            run_id: str | None) -> None:
    """Append (doc_id, content_hash, n_spans) rows as one commit: ONE Spark
    job, the manifest write.  Every row shares ``phase``, ``run_id`` and
    the query's ``current_timestamp()``."""
    entries.select("doc_id", F.lit(phase).alias("phase"),
                   F.col("content_hash").cast("string"),
                   F.col("n_spans").cast("long"),
                   F.current_timestamp().alias("ts"),
                   F.lit(run_id).cast("string").alias("run_id")) \
        .write.mode("append").parquet(manifest_path(state_dir))


def commit_phase(processed: DataFrame, spark: SparkSession, state_dir: str,
                 phase: str, input_docs: DataFrame | None = None,
                 run_id: str | None = None) -> None:
    """Append (doc_id, phase, hash, n_spans, ts, run_id) for processed docs
    — the reference's incremental save (auto_save=True,
    core/processor.py:179-181) generalized to run granularity.  The commit
    is ONE Spark job, the manifest write; ``read_metrics`` derives the
    per-commit counts from these rows.

    Manifest rows come from ONE projection of ``processed`` — one row per
    processed row, no self-join on doc_id.

    ``input_docs`` (when given) supplies the version hash from the INPUT
    spans so a later ``pending_docs(by_version=True)`` can detect changed
    documents — ``processed`` is joined to those hashes once; without it the
    hash is of the processed row (sufficient for doc_id-keyed resume)."""
    n_spans = (F.size(F.col("spans")) if "spans" in processed.columns
               else F.lit(0)).alias("n_spans")
    if input_docs is not None:
        entries = (processed.select("doc_id", n_spans)
                   .join(with_content_hash(input_docs)
                         .select("doc_id", "content_hash"), "doc_id"))
    else:
        entries = processed.select(
            "doc_id",
            F.sha2(F.to_json(F.struct("*")), 256).alias("content_hash"),
            n_spans)
    _append(entries, state_dir, phase, run_id)


def commit_run(processed: DataFrame, spark: SparkSession, output_dir: str,
               state_dir: str | None, phase: str) -> str:
    """Append ``processed`` to ``output_dir`` tagged with a new ``run_id``
    column, then (with a ``state_dir``) commit that run.  Returns the
    run_id.

    Commit ORDER is the atomicity protocol (write outputs first, commit the
    manifest referencing ``run_id`` last): a crash between the two leaves
    orphan output rows that ``read_committed`` filters out, and the next run
    reprocesses those docs — no duplicates, no loss.

    The commit reads the run's rows back with their known schema
    (``RUN_OUTPUT_SCHEMA``, so no footer-merge job over the growing output
    directory), filtered on ``run_id``, and projects only ``doc_id`` and
    ``size(spans.order)``: nested-schema pruning then reads the ``order``
    leaf alone, and no span text is decoded or serialized.  One manifest
    row per output row, ``content_hash`` NULL — the output row is the
    record.  Two Spark jobs: the output write, the manifest write."""
    run_id = new_run_id()
    processed.withColumn("run_id", F.lit(run_id)) \
        .write.mode("append").parquet(output_dir)
    if state_dir is not None:
        rows = (spark.read.schema(RUN_OUTPUT_SCHEMA).parquet(output_dir)
                .filter(F.col("run_id") == run_id))
        _append(rows.select("doc_id",
                            F.lit(None).alias("content_hash"),
                            F.size("spans.order").alias("n_spans")),
                state_dir, phase, run_id)
    return run_id


def read_metrics(spark: SparkSession, state_dir: str) -> DataFrame:
    """One row per commit: (phase, run_id, ts, docs, spans), a view of the
    manifest.  ``current_timestamp()`` is fixed within one query, so every
    row of a commit shares its ``ts`` and a commit stays one group even when
    ``run_id`` is null.  After ``compact_manifest`` it counts only the
    retained rows.  A ``metrics/`` directory left by older versions next to
    the manifest is not read."""
    return (read_manifest(spark, state_dir)
            .groupBy("phase", "run_id", "ts")
            .agg(F.count("*").alias("docs"),
                 F.sum("n_spans").alias("spans")))


def check_output_layout(output_dir: str) -> None:
    """Refuse to append flat run_id-column files into a directory written by
    the old ``partitionBy('run_id')`` layout: Spark's partition discovery
    rejects the mixed structure, so an in-place upgrade would corrupt the
    directory.  Clear migration message instead (read the old dir, rewrite
    flat with run_id as a column, or start a fresh output dir).

    Raises ``ValueError`` (catchable by programmatic callers — notebooks,
    the incremental runner); the CLI translates it to an exit code."""
    try:
        entries = os.listdir(output_dir)
    except FileNotFoundError:
        return
    if any(e.startswith("run_id=") for e in entries):
        raise ValueError(
            f"output dir {output_dir!r} uses the legacy run_id= partitioned "
            "layout; appending flat files would break partition discovery. "
            "Migrate once (read the dir, write elsewhere without "
            "partitionBy) or point --output at a fresh directory.")


def read_committed(spark: SparkSession, output_dir: str, state_dir: str,
                   phase: str) -> DataFrame:
    """Output rows whose (doc_id, run_id) is committed in the manifest.

    This is the consumer half of the atomicity protocol: output parquet is
    appended BEFORE the manifest commit, so a crash in between leaves rows
    with a run_id no manifest entry references — they are dropped here (and
    the docs get reprocessed by the next run's anti-join, because the
    manifest never saw them).

    The output is read with its known schema (``RUN_OUTPUT_SCHEMA``), so
    building this view starts no Spark job: no footer-merge over a
    directory that grows with every run.  Legacy outputs written before run
    tagging share the directory (one flat layout) and read ``run_id`` as
    null; they fall back to doc_id-only committed filtering — committed
    legacy docs are never dropped for lacking a run tag."""
    out = spark.read.schema(RUN_OUTPUT_SCHEMA).parquet(output_dir)
    m = read_manifest(spark, state_dir, phase)
    tagged = (out.filter(F.col("run_id").isNotNull())
              .join(m.select("doc_id", "run_id"), ["doc_id", "run_id"],
                    "left_semi"))
    legacy = (out.filter(F.col("run_id").isNull())
              .join(m.select("doc_id"), "doc_id", "left_semi"))
    return tagged.unionByName(legacy)


def compact_manifest(spark: SparkSession, state_dir: str) -> int:
    """Rewrite the append-only manifest keeping only the LATEST row per
    (doc_id, phase) — bounds the manifest read for long-lived incremental
    pipelines (the reference's analog is its single upsert-keyed state file,
    core/state.py:795-822).  Returns the retained row count.

    One shuffle on (doc_id, phase) over manifest rows only (never the data).
    Plain-parquet stand-in for an Iceberg RewriteFiles/MERGE snapshot: the
    new manifest is materialized to a sibling dir and swapped in; on a real
    catalog the swap is an atomic snapshot commit.

    The swap never has a window where the manifest is gone: the live dir is
    renamed aside to ``manifest.old`` FIRST, the compacted dir renamed into
    place SECOND, and only then is ``.old`` deleted.  A crash between any
    two steps is healed by ``recover_manifest`` (rename ``.old`` back when
    ``manifest`` is missing) on the next read — rmtree-before-rename would
    instead orphan every committed output row."""
    recover_manifest(state_dir)
    path = manifest_path(state_dir)
    old = path + ".old"
    m = _read_or_empty(spark, path, MANIFEST_SCHEMA)
    w = Window.partitionBy("doc_id", "phase") \
        .orderBy(F.desc("ts"), F.desc("run_id"))
    latest = (m.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))
    tmp = path + ".compact"
    latest.write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    # leftover .old here can only be post-swap debris (recover_manifest saw
    # `manifest` present) — safe to clear before taking its name
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return n
