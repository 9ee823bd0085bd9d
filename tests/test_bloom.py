"""Bloom filter membership sketch + Bloom-filtered decontamination
(sketches.bloom_build / bloom_probe / bloom_decontaminate).

The contract oracle certification (test_staged_contract, check_contract)
pins cross-engine exactness; this suite pins the semantic
guarantees: NO false negatives ever, bounded false positives at the
design load, zero-shuffle probe-side plan, planted contamination found.
"""

import pytest
from pyspark.sql import functions as F

from vlm_ocr_doc_reader_spark.datapipe.sketches import (bloom_build,
                                                        bloom_decontaminate,
                                                        bloom_probe)


@pytest.fixture(scope="module")
def member_df(spark):
    return spark.createDataFrame([(f"item_{i}",) for i in range(500)],
                                 "x string")


def test_no_false_negatives(spark, member_df):
    bf = bloom_build(member_df, "x")
    out = bloom_probe(member_df, "x", bf)
    assert out.filter(~F.col("maybe_present")).count() == 0


def test_false_positive_rate_bounded(spark, member_df):
    """500 members in a 65536-bit / 5-hash filter: theoretical FP rate
    ~(1 - e^(-5*500/65536))^5 ~ 6e-8; allow a generous 1% bound over
    2000 non-member probes."""
    bf = bloom_build(member_df, "x")
    others = spark.createDataFrame([(f"other_{i}",) for i in range(2000)],
                                   "x string")
    fp = bloom_probe(others, "x", bf) \
        .filter(F.col("maybe_present")).count()
    assert fp <= 20, fp


def test_probe_is_zero_shuffle(spark, member_df):
    """The probe side must never exchange: the filter collapses to one
    broadcast row and the verdict is a narrow fold, so the only
    Exchange(s) in the plan belong to the filter-build aggregation —
    none may descend from the probed items' scan."""
    bf = bloom_build(member_df, "x")
    items = spark.range(1000).select(
        F.concat(F.lit("probe_"), F.col("id").cast("string")).alias("x"))
    plan = bloom_probe(items, "x", bf)._jdf.queryExecution() \
        .executedPlan().toString()
    # the items side is a Range scan; walk the plan text: no Exchange may
    # appear between the Range leaf and the join
    segment = plan[:plan.find("Range")]
    assert "BroadcastExchange" in plan  # the one-row filter map
    assert "Exchange hashpartitioning" not in segment, plan


def test_decontaminate_flags_planted_overlap(spark):
    eval_rows = [(100 + i,
                  f"alpha beta gamma delta epsilon zeta eta theta run{i}")
                 for i in range(5)]
    train_rows = [
        # contaminated: contains a full eval 8-gram twice-over
        (0, "alpha beta gamma delta epsilon zeta eta theta run0 tail"),
        # clean: disjoint vocabulary
        (1, "one two three four five six seven eight nine ten"),
    ]
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")
    tr = spark.createDataFrame(train_rows, "doc_id long, text string")
    out = {r.id: r for r in bloom_decontaminate(tr, ev).collect()}
    assert out[0].flagged and out[0].n_maybe_hits >= 2
    assert not out[1].flagged and out[1].n_maybe_hits == 0


def test_decontaminate_partition_invariant(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = d.filter(F.col("doc_id") % 10 == 0)
    tr = d.filter(F.col("doc_id") % 10 != 0)
    a = sorted(map(tuple,
                   bloom_decontaminate(tr.repartition(1), ev).collect()))
    b = sorted(map(tuple,
                   bloom_decontaminate(tr.repartition(7), ev).collect()))
    assert a == b


def test_bloom_probe_is_streaming_safe(spark, tmp_path, member_df):
    """The Bloom probe is a stateless narrow transform over a broadcast
    batch filter, so it composes onto a readStream — the in-flight
    decontamination shape (filter built once over the eval set, every
    arriving train doc scored in its micro-batch).  Plan construction on
    a streaming frame + an availableNow drain prove stream-safety and
    correctness end-to-end."""
    import os

    bf = bloom_build(member_df, "x")
    in_dir, out, ckpt = (str(tmp_path / p) for p in ("in", "out", "ckpt"))
    spark.createDataFrame(
        [("item_3",), ("item_7",), ("fresh_a",), ("fresh_b",)],
        "x string").coalesce(1).write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema("x string").parquet(in_dir)
    probed = bloom_probe(stream, "x", bf)
    assert probed.isStreaming
    q = (probed.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.x: r.maybe_present for r in spark.read.parquet(out).collect()}
    assert got == {"item_3": True, "item_7": True,
                   "fresh_a": False, "fresh_b": False}
    assert os.path.isdir(ckpt)
