"""Degenerate vectors through every vector-similarity entry point.

The corpus holds an all-zero vector, a NULL vector, a vector with a NULL
element and a shorter (ragged) vector among ordinary float vectors.  Under
ANSI mode every operator must complete, give the same rows at 1 and 4
partitions, emit no NaN or infinite score, and never rank or pair a
degenerate vector: its cosine with anything is NULL (``similarity._cosine``
and its Arrow twin).  The exact operators must equal a numpy reference over
the ordinary rows, and the vector contract queries their DuckDB oracles on
gate tables holding a zero and a NULL vector."""

import math
import os
import pathlib
import sys

import duckdb
import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "tools"))

from check_contract import compare, duck_conn  # noqa: E402

from vlm_ocr_doc_reader_spark.contract import ORACLES, QUERIES  # noqa: E402
from vlm_ocr_doc_reader_spark.datapipe import similarity  # noqa: E402
from vlm_ocr_doc_reader_spark.datapipe.select import semdedup  # noqa: E402
from vlm_ocr_doc_reader_spark.datapipe.similarity import (  # noqa: E402
    brute_force_topk, embedding_near_dups, ivf_pq_topk, ivf_topk,
    lsh_topk_multiband, lsh_topk_multiprobe, margin_pairs,
    refine_centroids)

N, DIM = 40, 8
# ragged length divisible by the PQ m_sub below: an indivisible dimension
# is ivf_pq_topk's own loud error (test_pq::test_indivisible_dim_raises)
RAGGED = 4
M_SUB = 4


def _vectors(seed: int, zero: int, null: int, null_elem: int,
             ragged: int) -> dict:
    rng = np.random.default_rng(seed)
    vecs = {i: [float(x) for x in rng.normal(size=DIM)] for i in range(N)}
    vecs[zero] = [0.0] * DIM
    vecs[null] = None
    vecs[null_elem][2] = None
    vecs[ragged] = vecs[ragged][:RAGGED]
    return vecs


def _frame(spark, vecs: dict, ids=None):
    rows = [(i, vecs[i]) for i in sorted(vecs) if ids is None or i in ids]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _planes(seed: int, n: int):
    return np.random.default_rng(seed).normal(size=(n, DIM)).tolist()


def _entry_points(emb, cents0, half_a, half_b):
    q = emb.select(F.col("vec_id").alias("qid"),
                   F.col("embedding").alias("qvec"))
    return {
        "brute_force_topk": brute_force_topk(emb, q, k=3),
        "lsh_topk_multiband": lsh_topk_multiband(
            emb, [_planes(1, 3), _planes(2, 3)], k=3),
        "ivf_topk": ivf_topk(emb, n_centroids=4, n_probe=2, k=3),
        "near_dups_lsh": embedding_near_dups(
            emb, threshold=-1.0, planes=_planes(3, 2)),
        "near_dups_exact": embedding_near_dups(emb, threshold=-1.0,
                                               exact=True),
        "lsh_topk_multiprobe_0": lsh_topk_multiprobe(
            emb, _planes(4, 3), k=3, n_flip=0),
        "lsh_topk_multiprobe_2": lsh_topk_multiprobe(
            emb, _planes(4, 3), k=3, n_flip=2),
        "ivf_pq_topk_adc": ivf_pq_topk(emb, n_centroids=4, n_probe=2, k=3,
                                       m_sub=M_SUB, n_codes=4),
        "ivf_pq_topk_rerank": ivf_pq_topk(emb, n_centroids=4, n_probe=2,
                                          k=3, m_sub=M_SUB, n_codes=4,
                                          rerank=6),
        "refine_centroids": refine_centroids(emb, cents0, iters=2),
        "semdedup": semdedup(emb, n_clusters=4, threshold=0.5,
                             persist_intermediate=False),
        "margin_pairs": margin_pairs(half_a, half_b, k=3),
    }


def _rows(df, name):
    rows = [tuple(r) for r in df.collect()]
    if name == "refine_centroids":
        # Lloyd means are float avg aggregates, whose partial sums follow
        # the partitioning: compare them to 9 dp
        rows = [(cid, None if v is None else
                 tuple(None if x is None else round(x, 9) for x in v))
                for cid, v in rows]
    return sorted(rows, key=repr)


def _run_all(spark, vecs, cent_ids):
    """{entry point: rows} at 1 and 4 partitions; asserts they agree."""
    out = {}
    for n_parts in (1, 4):
        emb = _frame(spark, vecs).repartition(n_parts)
        cents0 = (emb.filter(F.col("vec_id").isin(*cent_ids))
                  .select(F.col("vec_id").alias("cid"),
                          F.transform("embedding",
                                      lambda x: x.cast("double"))
                          .alias("cvec")))
        half_a = emb.filter(F.col("vec_id") < N // 2)
        half_b = emb.filter(F.col("vec_id") >= N // 2)
        got = {name: _rows(df, name) for name, df in
               _entry_points(emb, cents0, half_a, half_b).items()}
        for name, rows in got.items():
            if name in out:
                assert rows == out[name], f"{name}: 1 vs 4 partitions"
            out[name] = rows
    return out


def _finite(x):
    return x is not None and math.isfinite(x)


def _check_degenerate(out, degen, cents_zero):
    zero, null, null_elem, ragged = degen
    for name, rows in out.items():
        if name == "refine_centroids":
            for cid, cvec in rows:
                assert all(x is None or math.isfinite(x)
                           for x in cvec or []), (name, cid)
            # the zero centroid has no cosine to anything: its cell ranks
            # last for every vector, so unless it is the min-cid cell
            # (where vectors with no cosine at all land) it stays empty
            # and keeps its centroid
            if cents_zero != min(cid for cid, _ in rows):
                (kept,) = [v for cid, v in rows if cid == cents_zero]
                assert kept == (0.0,) * DIM
            continue
        if name == "semdedup":
            by_id = {r[0]: r for r in rows}
            assert sorted(by_id) == list(range(N))
            for i in degen:
                assert by_id[i][3] is True, (name, i)   # is_kept
            for i in (zero, null, null_elem):
                assert by_id[i][2] is None, (name, i)   # cent_cos
            assert all(r[2] is None or _finite(r[2]) for r in rows)
            continue
        assert rows, name
        for r in rows:
            ids = (r[0], r[1])
            scores = r[2:] if name == "margin_pairs" else r[-1:]
            assert not set(ids) & set(degen), (name, r)
            assert all(_finite(s) for s in scores), (name, r)


def _fold(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _reference_cosines(vecs, degen):
    """{(i, j): cosine} over the ordinary rows, with the operators' own
    arithmetic: float32 inputs widened to double, left-fold dot and norms,
    dot / (na * nb)."""
    v = {i: [float(np.float32(x)) for x in vec]
         for i, vec in vecs.items() if i not in degen}
    norm = {i: math.sqrt(_fold(x, x)) for i, x in v.items()}
    return {(i, j): _fold(v[i], v[j]) / (norm[i] * norm[j])
            for i in v for j in v if i != j}


def _check_reference(out, vecs, degen):
    cos = _reference_cosines(vecs, degen)
    want_pairs = sorted((i, j) for i, j in cos if i < j)
    got = sorted(out["near_dups_exact"])
    assert [(a, b) for a, b, _ in got] == want_pairs
    assert all(abs(c - cos[(a, b)]) <= 1.5e-6 for a, b, c in got)
    want_topk = []
    for q in sorted({i for i, _ in cos}):
        nbrs = sorted((j for i, j in cos if i == q),
                      key=lambda j: (-cos[(q, j)], j))[:3]
        want_topk += [(q, j, r + 1) for r, j in enumerate(nbrs)]
    got = sorted(out["brute_force_topk"], key=lambda r: (r[0], r[2]))
    assert [r[:3] for r in got] == want_topk
    assert all(abs(c - cos[(q, j)]) <= 1.5e-6 for q, j, _, c in got)


def _check_corpus(spark, seed, degen):
    vecs = _vectors(seed, *degen)
    out = _run_all(spark, vecs, sorted({0, 5, 9, degen[0]}))
    _check_degenerate(out, degen, degen[0])
    _check_reference(out, vecs, degen)


def test_degenerate_vectors_never_rank(spark):
    # ids 11 and 29 are PQ codebook samples of this corpus
    _check_corpus(spark, seed=7, degen=(3, 11, 17, 29))


@settings(max_examples=2, deadline=None, derandomize=True)
@given(seed=st.integers(0, 2**16),
       degen=st.permutations(range(N)).map(lambda p: tuple(p[:4])))
# ids 27, 6, 33, 36 are the four md5-seeded centroids of this corpus (33
# is also a PQ codebook sample)
@example(seed=7, degen=(27, 6, 33, 36))
def test_degenerate_vectors_never_rank_anywhere(spark, seed, degen):
    """The same checks with the degenerate vectors placed anywhere,
    including among the md5-seeded centroids and PQ codebook samples."""
    _check_corpus(spark, seed, degen)


@pytest.mark.parametrize("op", [ivf_topk, ivf_pq_topk])
def test_over_cap_cell_raises_naming_n_centroids(spark, monkeypatch, op):
    """A cell over the member-array cap fails loudly, naming the knob
    that shrinks cells, instead of dropping members."""
    monkeypatch.setattr(similarity, "_MAX_CELL", 5)
    vecs = _vectors(5, 0, 1, 2, 3)
    emb = _frame(spark, vecs, ids=set(range(4, N)))
    with pytest.raises(Exception, match="raise n_centroids"):
        op(emb, n_centroids=2, n_probe=1, k=2).collect()


def test_null_vector_passes_pq_dim_guard_with_ansi_off(spark):
    """With ANSI off ``size(NULL)`` is -1; the m_sub divisibility guard
    must still let a NULL vector through instead of raising."""
    emb = _frame(spark, _vectors(5, 0, 1, 2, 3))
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        rows = ivf_pq_topk(emb, n_centroids=4, n_probe=2, k=3, m_sub=M_SUB,
                           n_codes=4).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
    assert rows and not {r["qid"] for r in rows} & {0, 1, 2, 3}


# the contract queries that score cosines, each against its DuckDB oracle
VECTOR_QUERIES = [
    "cosine_topk", "near_dup", "lsh_topk_multiband", "ivf_topk",
    "near_dup_lsh", "semdedup", "lsh_multiprobe", "hybrid_search",
    "pq_topk", "margin_pairs"]


@pytest.fixture(scope="module")
def degenerate_sf(tmp_path_factory):
    """The sf0.001 tables with two more embeddings: an all-zero vector
    (id -2: a cosine_topk query, a margin_pairs even-side row) and a NULL
    vector (id 501: an odd-side row)."""
    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("sf_degenerate")
    for f in os.listdir(src):
        if f != "embeddings.parquet":
            os.symlink(os.path.join(src, f), d / f)
    duckdb.connect().execute(f"""
        COPY (SELECT * FROM read_parquet('{src}/embeddings.parquet')
              UNION ALL SELECT -2, list_transform(range(64),
                                                  x -> CAST(0 AS FLOAT)), 0
              UNION ALL SELECT 501, NULL, 1)
        TO '{d}/embeddings.parquet' (FORMAT PARQUET)""")
    return str(d)


@pytest.mark.parametrize("name", VECTOR_QUERIES)
def test_vector_query_matches_oracle_with_zero_and_null_vectors(
        spark, degenerate_sf, name):
    """The oracles' cosine is the engine's: NULL for a zero or NULL
    vector, never ranked, never paired."""
    sdf = QUERIES[name](spark, degenerate_sf).toPandas()
    con = duck_conn(degenerate_sf)
    try:
        ddf = con.execute(ORACLES[name]).fetchdf()
    finally:
        con.close()
    issues = compare(name, sdf, ddf)
    assert not issues, f"{name}: {issues}"
