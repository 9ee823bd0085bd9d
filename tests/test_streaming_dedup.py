"""Streaming first-arrival dedup (streaming/dedup.py): native
dropDuplicatesWithinWatermark over a file source — repeats within the
watermark drop, state stays bounded, restart does not re-emit."""

import pyspark.sql.functions as F

from vlm_ocr_doc_reader_spark.streaming.dedup import (dedup_stream,
                                                      run_dedup_stream)

SCHEMA = "event_id long, ts timestamp, digest string"


def _rows(spark, rows):
    return spark.createDataFrame(
        [(i, f"2024-01-01 10:{m:02d}:00", d) for i, m, d in rows],
        "event_id long, ts string, digest string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))


def test_stream_dedup_first_arrival_wins(spark, tmp_path):
    in_dir, out, ckpt = (str(tmp_path / p) for p in ("in", "out", "ckpt"))
    # batch 1: a, b, and a repeat of a within minutes
    _rows(spark, [(1, 0, "a"), (2, 1, "b"), (3, 2, "a")]).write.parquet(
        in_dir)
    run_dedup_stream(spark, in_dir, out, ckpt, SCHEMA,
                     key_cols=("digest",), watermark="10 minutes")
    rows1 = spark.read.parquet(out).collect()
    # exactly ONE row per key survives (which of the in-batch repeats is
    # retained is processing order, not event time — Spark's contract)
    assert sorted(r["digest"] for r in rows1) == ["a", "b"]

    # batch 2 (incremental restart from checkpoint): another 'b' repeat
    # within the watermark drops; a fresh key 'c' lands; already-emitted
    # rows are NOT re-emitted
    _rows(spark, [(4, 3, "b"), (5, 4, "c")]).write.mode("append").parquet(
        in_dir)
    run_dedup_stream(spark, in_dir, out, ckpt, SCHEMA,
                     key_cols=("digest",), watermark="10 minutes")
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3
    assert sorted(r["digest"] for r in rows) == ["a", "b", "c"]
    assert {r["event_id"] for r in rows
            if r["digest"] == "c"} == {5}
    # the repeats of a and b emitted in batch 1 were not re-emitted
    emitted1 = {r["event_id"] for r in rows1}
    assert {r["event_id"] for r in rows if r["digest"] in "ab"} == emitted1


def test_dedup_stream_exact_mode_is_opt_in_batch_semantics(spark):
    df = _rows(spark, [(1, 0, "a"), (2, 1, "a"), (3, 2, "b")])
    out = dedup_stream(df, ("digest",), exact=True).collect()
    assert sorted(r["digest"] for r in out) == ["a", "b"]


def test_with_content_key_matches_manifest_identity(spark, tmp_path):
    """The streaming dedup key is the manifest's version identity: the
    ``content_hash`` of ``with_content_hash`` is what a versioned commit
    records for the same input."""
    from vlm_ocr_doc_reader_spark.sources.readers import with_content_hash
    from vlm_ocr_doc_reader_spark.state.manifest import (commit_phase,
                                                         read_manifest)
    docs = spark.createDataFrame(
        [("d1", [("text", "Hello there friend.", None, 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    state = str(tmp_path / "state")
    commit_phase(docs, spark, state, "extract", input_docs=docs)
    a = with_content_hash(docs).select("doc_id", "content_hash").collect()
    b = read_manifest(spark, state).select("doc_id", "content_hash").collect()
    assert a == b and len(a[0]["content_hash"]) == 64
