"""Margin-based aligned-pair mining (similarity.margin_pairs).

The contract oracle (test_staged_contract, check_contract) pins cross-engine
exactness; this suite pins the semantics: a planted near-identical pair
must be mined as mutual-best, the ratio margin must demote hub vectors
(close to everything) relative to their raw cosine rank, output is
mutual-best (each id at most once), and partition-invariant.
"""

import random

import pytest
from pyspark.sql import functions as F

from vlm_ocr_doc_reader_spark.datapipe.similarity import margin_pairs

DIM = 16


def _vec(rng, base=None, noise=1.0):
    v = [rng.gauss(0, 1) for _ in range(DIM)]
    if base is not None:
        v = [b + noise * x for b, x in zip(base, v)]
    return v


@pytest.fixture(scope="module")
def sides(spark):
    rng = random.Random(20260818)
    anchors = [_vec(rng) for _ in range(6)]
    # a_i and b_i are noisy copies of anchor i -> true alignment i<->i
    rows_a = [(2 * i, _vec(rng, anchors[i], 0.1)) for i in range(6)]
    rows_b = [(2 * i + 1, _vec(rng, anchors[i], 0.1)) for i in range(6)]
    # plus unaligned noise on both sides
    rows_a += [(100 + 2 * i, _vec(rng)) for i in range(8)]
    rows_b += [(101 + 2 * i, _vec(rng)) for i in range(8)]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")
    return mk(rows_a), mk(rows_b)


def test_planted_alignments_mined(spark, sides):
    a, b = sides
    got = {(r.a_id, r.b_id) for r in margin_pairs(a, b, k=4).collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(6)}
    assert planted <= got, planted - got


def test_mutual_best_is_one_to_one(spark, sides):
    a, b = sides
    rows = margin_pairs(a, b, k=4).collect()
    assert len({r.a_id for r in rows}) == len(rows)
    assert len({r.b_id for r in rows}) == len(rows)


def test_partition_invariant(spark, sides):
    a, b = sides
    x = sorted(map(tuple, margin_pairs(a.repartition(1), b.repartition(1),
                                       k=4).collect()))
    y = sorted(map(tuple, margin_pairs(a.repartition(5), b.repartition(3),
                                       k=4).collect()))
    assert x == y


def test_margin_demotes_hub(spark):
    """A hub b-vector (high cosine to EVERY a) earns a high penalty: the
    specific aligned partner must still win its a-side best slot over
    the hub whenever its margin beats the hub's."""
    rng = random.Random(7)
    anchor = _vec(rng)
    hub = [x * 1.0 for x in anchor]  # direction every a leans toward
    a_rows = [(0, _vec(rng, anchor, 0.05))] + \
             [(2 * i, _vec(rng, anchor, 0.8)) for i in range(1, 6)]
    b_rows = [(1, _vec(rng, a_rows[0][1], 0.05)),  # true partner of a0
              (3, hub)] + \
             [(2 * i + 1, _vec(rng)) for i in range(2, 6)]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")
    got = {r.a_id: r.b_id for r in
           margin_pairs(mk(a_rows), mk(b_rows), k=3).collect()}
    assert got.get(0) == 1  # partner, not the hub, wins a0
