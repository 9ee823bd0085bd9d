"""Multi-probe SRP-LSH: recall vs single-probe (n_flip=0) and the staged
gate pair."""

import pytest
from pyspark.sql import functions as F

from vlm_ocr_doc_reader_spark.datapipe.similarity import (
    brute_force_topk, lsh_topk_multiprobe)

SF = "/root/testdata/sf0.001"


def _planes():
    from vlm_ocr_doc_reader_spark.contract import _PLANES_LSH
    return _PLANES_LSH


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _recall(approx_df, truth):
    got = {}
    for r in approx_df.collect():
        got.setdefault(r["qid"], set()).add(r["nbr_id"])
    hits = total = 0
    for qid, nbrs in truth.items():
        total += len(nbrs)
        hits += len(nbrs & got.get(qid, set()))
    return hits / total


def test_multiprobe_beats_single_probe_recall(emb, spark):
    planes = _planes()
    truth = {}
    q = emb.select(F.col("vec_id").alias("qid"),
                   F.col("embedding").alias("qvec"))
    for r in brute_force_topk(emb, q, k=3).collect():
        truth.setdefault(r["qid"], set()).add(r["nbr_id"])
    r_single = _recall(lsh_topk_multiprobe(emb, planes, k=3, n_flip=0),
                       truth)
    r_multi = _recall(lsh_topk_multiprobe(emb, planes, k=3, n_flip=2),
                      truth)
    # measured on this corpus/plane seed: 0.06 single -> 0.142 with two
    # flips — the relative bound is the claim (3 probes ≫ 1 probe)
    assert r_multi >= 1.5 * r_single
    assert r_multi >= 0.1


def test_multiprobe_gate_entry_matches_duckdb(spark):
    import duckdb

    from vlm_ocr_doc_reader_spark.contract import (ORACLES,
                                                   q_lsh_multiprobe)
    got = q_lsh_multiprobe(spark, SF).orderBy("qid", "rank").toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{SF}/embeddings.parquet')")
    want = con.execute(ORACLES["lsh_multiprobe"]
                       + " ORDER BY qid, rank").fetchdf()
    con.close()
    assert len(got) == len(want) > 0
    for c in got.columns:
        g, w = got[c], want[c]
        assert str(g.dtype) == str(w.dtype), f"{c}: {g.dtype} vs {w.dtype}"
        if c == "cosine":
            assert (g.round(6) == w.round(6)).all()
        else:
            assert g.equals(w), f"col {c} differs"
