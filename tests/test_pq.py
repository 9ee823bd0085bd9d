"""IVFADC+R product-quantized ANN (similarity.ivf_pq_topk).

Quality and determinism pins alongside the contract oracle certification
(test_staged_contract / check_contract cover exactness vs the
DuckDB twin):

* the ADC shortlist + exact re-rank must recover nearly all of the
  recall the coarse IVF stage allows (the quantizer may not add loss on
  top of the cell pruning beyond a small tolerance);
* raw-ADC mode must return k rows per live query and be
  partition-invariant (the float folds are all fixed-order);
* rerank mode returns EXACT cosines for the pairs it outputs.
"""

import os

import pytest
from pyspark.sql import functions as F

from vlm_ocr_doc_reader_spark.datapipe.similarity import (brute_force_topk,
                                                          ivf_pq_topk,
                                                          ivf_topk)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
pytestmark = pytest.mark.skipif(not os.path.isdir(SF_DIR),
                                reason="no driver testdata")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _sets(rows):
    d = {}
    for r in rows:
        d.setdefault(r.qid, set()).add(r.nbr_id)
    return d


def test_rerank_recovers_ivf_recall(spark, emb):
    """PQ quantization error must cost little on top of the coarse cell
    pruning: recall(pq+rerank) >= 0.9 x recall(exact-rerank IVF) with
    the same cells/probes."""
    q = emb.select(F.col("vec_id").alias("qid"),
                   F.col("embedding").alias("qvec"))
    exact = _sets(brute_force_topk(emb, q, k=3).collect())
    ivf = _sets(ivf_topk(emb, k=3).collect())
    pq = _sets(ivf_pq_topk(emb, k=3, m_sub=16, rerank=32).collect())
    total = sum(len(v) for v in exact.values())
    r_ivf = sum(len(exact[k_] & ivf.get(k_, set())) for k_ in exact) / total
    r_pq = sum(len(exact[k_] & pq.get(k_, set())) for k_ in exact) / total
    assert r_pq >= 0.9 * r_ivf, (r_pq, r_ivf)
    assert r_pq > 0.3  # absolute floor on the synthetic corpus


def test_adc_mode_shape_and_partition_invariance(spark, emb):
    out = ivf_pq_topk(emb, k=3, m_sub=8)
    rows = out.collect()
    assert set(out.columns) == {"qid", "nbr_id", "rank", "adc_cos"}
    per_q = {}
    for r in rows:
        per_q.setdefault(r.qid, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in per_q.values())
    a = sorted(map(tuple, ivf_pq_topk(emb.repartition(1), k=3,
                                      m_sub=8).collect()))
    b = sorted(map(tuple, ivf_pq_topk(emb.repartition(13), k=3,
                                      m_sub=8).collect()))
    assert a == b


def test_rerank_outputs_exact_cosines(spark, emb):
    """Whatever pairs rerank mode returns, their cosine column must be
    the true cosine (quantization affects WHICH pairs, never the
    reported score)."""
    got = ivf_pq_topk(emb, k=3, m_sub=16, rerank=32)
    e = emb.select(F.col("vec_id").alias("nbr_id"),
                   F.col("embedding").alias("vb"))
    q = emb.select(F.col("vec_id").alias("qid"),
                   F.col("embedding").alias("va"))
    joined = got.join(q, "qid").join(e, "nbr_id")
    vd = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    dot = F.aggregate(F.zip_with(vd("va"), vd("vb"), lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(vd(c), lambda x: x * x), F.lit(0.0),
        lambda a, x: a + x))
    chk = joined.withColumn(
        "want", F.round(dot / (nrm("va") * nrm("vb")), 6))
    bad = chk.filter(F.abs(F.col("cosine") - F.col("want")) > 1e-9)
    assert bad.count() == 0


def test_indivisible_dim_raises(spark):
    """A dimension not divisible by m_sub must raise per-row instead of
    silently dropping trailing dims from every subvector."""
    bad = spark.createDataFrame(
        [(i, [float(j) for j in range(15)]) for i in range(10)],
        "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="not divisible"):
        ivf_pq_topk(bad, k=2, m_sub=4).collect()
