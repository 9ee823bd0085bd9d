"""Unit tests for the training-data pipeline operators."""

import pyspark.sql.functions as F
import pytest

from vlm_ocr_doc_reader_spark.datapipe.dedup import (
    exact_duplicates, jaccard_pairs, minhash_bands, minhash_candidate_pairs,
    minhash_signatures, simhash)
from vlm_ocr_doc_reader_spark.datapipe.multimodal import (
    decode_image, extract_media_features, frame_sample_plan, MEDIA_SCHEMA)
from vlm_ocr_doc_reader_spark.datapipe.similarity import (
    brute_force_topk, embedding_near_dups, lsh_topk_multiprobe)
from vlm_ocr_doc_reader_spark.datapipe.textstats import (
    fingerprint, lang_id, quality_features)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The quick  brown fox jumps over the lazy dog"),  # exact dup (norm)
        (3, "the quick brown fox jumps over the lazy cat"),   # near dup
        (4, "completely different content about spark engines"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_duplicates(docs):
    out = exact_duplicates(docs).collect()
    groups = {r["canonical_id"]: r["n_dups"] for r in out}
    assert groups[1] == 2  # docs 1,2 collapse
    assert groups[3] == 1


def test_minhash_lsh_finds_near_dup(docs):
    sig = minhash_signatures(docs, n_hashes=16, k=3)
    assert sig.groupBy("id").count().filter("count != 16").count() == 0
    pairs = minhash_candidate_pairs(minhash_bands(sig, 4))
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # identical after norm: all bands agree


def test_minhash_band_buckets_narrow_equals_exploded(docs):
    """The fused zero-shuffle bucketing must produce byte-identical band
    hashes to the exploded signatures+bands formulation, and its plan must
    contain no Exchange."""
    from vlm_ocr_doc_reader_spark.datapipe.dedup import minhash_band_buckets
    a = minhash_band_buckets(docs, n_hashes=16, rows_per_band=4, k=3)
    b = minhash_bands(minhash_signatures(docs, n_hashes=16, k=3), 4)
    rows_a = {tuple(r) for r in a.collect()}
    rows_b = {tuple(r) for r in b.collect()}
    assert rows_a == rows_b and rows_a
    plan = a._sc._jvm.PythonSQLUtils.explainString(
        a._jdf.queryExecution(), "formatted")
    assert "Exchange" not in plan


def test_connected_components_chain_and_islands(spark):
    """A 4-node chain (1-2, 2-3, 3-4) must collapse to ONE component even
    though 1 and 4 share no edge (the case the greedy policy over-drops);
    a separate pair and an isolated provided node stay distinct."""
    from vlm_ocr_doc_reader_spark.datapipe.dedup import connected_components
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a int, id_b int")
    got = {r["id"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # explicit node universe: singletons appear as their own component
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 99)],
                                  "id int")
    got2 = {r["id"]: r["component"]
            for r in connected_components(pairs, nodes=nodes).collect()}
    assert got2[99] == 99 and got2[4] == 1


def test_connected_components_strict_on_unconverged(spark):
    """A diameter beyond max_iter must RAISE by default (a survivor policy
    on partial labels silently keeps extra docs); strict=False opts into
    the partial result."""
    import pytest

    from vlm_ocr_doc_reader_spark.datapipe.dedup import connected_components
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)],
                                  "id_a int, id_b int")
    with pytest.raises(RuntimeError, match="max_iter"):
        connected_components(pairs, max_iter=3)
    partial = connected_components(pairs, max_iter=3, strict=False)
    assert partial.count() == 13  # all nodes labeled, possibly not minimal


def test_connected_components_converges_under_max_iter(spark):
    """A long path graph needs ~diameter rounds; max_iter below that leaves
    labels unconverged only if the loop ignored convergence — with the
    change-count check it must still be exact for a diameter within
    max_iter, and a tight max_iter is respected."""
    from vlm_ocr_doc_reader_spark.datapipe.dedup import connected_components
    n = 12
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)],
                                  "id_a int, id_b int")
    got = {r["id"]: r["component"]
           for r in connected_components(pairs, max_iter=25).collect()}
    assert set(got.values()) == {0}


def test_duplicate_clusters_end_to_end(docs):
    """docs 1,2 are identical after normalization -> same cluster with
    component = min id; unrelated docs don't appear."""
    from vlm_ocr_doc_reader_spark.datapipe.dedup import duplicate_clusters
    got = {r["id"]: r["component"]
           for r in duplicate_clusters(docs, threshold=0.8).collect()}
    assert got.get(1) == 1 and got.get(2) == 1


def test_refine_centroids_tightens_cells_and_helps_recall(spark):
    """Lloyd refinement must (a) reduce mean distance-to-centroid round
    over round on clustered data, (b) be deterministic, (c) never lose a
    centroid row (empty cells keep their previous vector), and (d) not
    hurt ivf recall vs the unrefined pick."""
    import math

    import pyspark.sql.functions as F

    from vlm_ocr_doc_reader_spark.datapipe.similarity import (
        brute_force_topk, ivf_topk, refine_centroids)

    # two tight, well-separated 4-d blobs; deterministic coordinates
    def blob(base, n, off):
        return [(off + i, [base[j] + 0.01 * ((i * 7 + j) % 5)
                           for j in range(4)]) for i in range(n)]
    rows = blob([1.0, 0.0, 0.0, 0.0], 30, 0) + \
        blob([0.0, 1.0, 0.0, 0.0], 30, 100)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # a deliberately bad init: two centroids from the SAME blob
    cents0 = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.05, 0.0, 0.0])],
        "cid long, cvec array<double>")

    def cost(cents):
        got = {r["cid"]: r["cvec"] for r in cents.collect()}
        tot = 0.0
        for _id, v in rows:
            best = min(
                1 - sum(a * b for a, b in zip(v, c))
                / (math.sqrt(sum(a * a for a in v))
                   * math.sqrt(sum(b * b for b in c)))
                for c in got.values())
            tot += best
        return tot

    c1 = refine_centroids(emb, cents0, iters=1)
    c2 = refine_centroids(emb, cents0, iters=3)
    assert c1.count() == 2 and c2.count() == 2
    assert cost(c2) <= cost(c1) + 1e-9 < cost(cents0) + 1e-9
    # determinism
    a = sorted(map(tuple, ((r["cid"], tuple(r["cvec"]))
                           for r in refine_centroids(emb, cents0,
                                                     iters=2).collect())))
    b = sorted(map(tuple, ((r["cid"], tuple(r["cvec"]))
                           for r in refine_centroids(emb, cents0,
                                                     iters=2).collect())))
    assert a == b

    # refined ivf recall >= unrefined at equal n_probe
    exact = {(r["qid"], r["rank"]): r["nbr_id"]
             for r in brute_force_topk(
                 emb, emb.select(F.col("vec_id").alias("qid"),
                                 F.col("embedding").alias("qvec")),
                 k=1).collect()}

    def recall(df):
        approx = {(r["qid"], r["rank"]): r["nbr_id"] for r in df.collect()}
        return sum(approx.get(kk) == v for kk, v in exact.items()) / len(exact)

    r_plain = recall(ivf_topk(emb, n_centroids=4, n_probe=1, k=1))
    r_ref = recall(ivf_topk(emb, n_centroids=4, n_probe=1, k=1,
                            refine_iters=2))
    assert r_ref >= r_plain - 1e-9


def test_refine_centroids_is_lazy(spark, jobs_started):
    """Building Lloyd rounds, alone or under ivf_topk, starts no Spark
    job: the rounds run with the caller's action."""
    from vlm_ocr_doc_reader_spark.datapipe.cache import release_cached
    from vlm_ocr_doc_reader_spark.datapipe.similarity import (
        ivf_topk, refine_centroids)

    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>")
    cents0 = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    with jobs_started() as ids:
        refined = refine_centroids(emb, cents0, iters=2)
        top = ivf_topk(emb, n_centroids=4, n_probe=2, k=2, refine_iters=2)
    assert ids == []
    assert refined.count() == 4 and top.count() == 80
    release_cached(refined)
    release_cached(top)


def test_corpus_report_card_values(spark):
    """dup_rate counts exact normalized dups, en_share reflects lang mix,
    token totals sum — checked on a hand corpus."""
    from vlm_ocr_doc_reader_spark.datapipe.report import corpus_report
    en = ("the data and the model of the pipeline runs well and the "
          "results are good for the team")
    de = "der Tisch und die Daten der der und und die die der und heute."
    df = spark.createDataFrame(
        [(1, en, "a"), (2, en + " ", "a"), (3, de, "a"),   # 2+3: one dup pair
         (4, en, "b")],
        "doc_id long, text string, source string")
    got = {r["source"]: r for r in corpus_report(df).collect()}
    assert got["a"]["n_docs"] == 3 and got["a"]["n_unique"] == 2
    assert abs(got["a"]["dup_rate"] - (1 - 2 / 3)) < 1e-6
    assert abs(got["a"]["en_share"] - 2 / 3) < 1e-6
    assert got["b"]["dup_rate"] == 0.0 and got["b"]["en_share"] == 1.0
    assert got["b"]["total_tokens"] == len(en.split())


def test_decontaminate_flags_leaked_eval_docs(spark):
    """A test doc quoting a train 3-gram is dropped; clean docs survive
    unchanged; a boilerplate shingle shared by MANY train docs is capped
    out and does not flag anything."""
    from vlm_ocr_doc_reader_spark.datapipe.dedup import (decontaminate,
                                                        ngram_overlap)
    boiler = "standard license header text"
    train = spark.createDataFrame(
        [(0, f"{boiler} alpha bravo charlie delta echo secret passage")]
        + [(i, f"{boiler} unrelated train content item number {i}")
           for i in range(1, 10)], "doc_id int, text string")
    test = spark.createDataFrame(
        [(100, "quoting alpha bravo charlie delta here"),  # leaked 4-gram
         (101, "completely fresh words nothing shared at all"),
         (102, f"{boiler} but otherwise fresh content words")],
        "doc_id int, text string")
    # cap of 5 drops the boiler shingles (present in 10 train docs)
    ov = ngram_overlap(train, test, n=3, max_train_df=5)
    flagged = {r["test_id"] for r in ov.collect()}
    assert 100 in flagged and 101 not in flagged and 102 not in flagged
    clean = decontaminate(train, test, n=3, max_train_df=5)
    assert {r["doc_id"] for r in clean.collect()} == {101, 102}
    # without the cap the boilerplate quote IS an overlap
    ov2 = ngram_overlap(train, test, n=3, max_train_df=1000)
    assert 102 in {r["test_id"] for r in ov2.collect()}


def test_unigram_logprob_orders_junk_below_prose(spark):
    from vlm_ocr_doc_reader_spark.datapipe.terms import unigram_logprob_score
    df = spark.createDataFrame(
        [(1, "the data and the model and the data and the model"),
         (2, "zxqv kjhw pqrs zxqv wvut mnbv qqqq wwww eeee rrrr")],
        "doc_id int, text string")
    got = {r["id"]: r["avg_logprob"]
           for r in unigram_logprob_score(df).collect()}
    assert got[1] > got[2]  # common vocabulary beats garbage

    # external vocabulary: OOV tokens hit the smoothed floor
    vocab = spark.createDataFrame([("the", 100), ("data", 50)],
                                  "token string, c long")
    ext = {r["id"]: r["avg_logprob"]
           for r in unigram_logprob_score(df, vocab=vocab).collect()}
    assert ext[1] > ext[2]


def test_jaccard(docs):
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in jaccard_pairs(docs.filter("doc_id in (1,2,3)")).collect()}
    assert out[(1, 2)] == 1.0
    assert 0.5 < out[(1, 3)] < 1.0


def test_simhash_similarity(docs):
    out = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    assert out[1] == out[2]

    def ham(a, b):
        return bin(a ^ b).count("1")
    assert ham(out[1], out[3]) < ham(out[1], out[4])


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.95, 0.05]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def test_brute_force_topk(spark, emb):
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    out = brute_force_topk(emb, q, k=2).collect()
    assert [r["nbr_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2]


def test_lsh_topk_agrees_on_top1(spark, emb):
    import numpy as np
    rng = np.random.default_rng(0)
    planes = rng.normal(size=(4, 3)).tolist()
    out = lsh_topk_multiprobe(emb, planes, k=1, n_flip=0).collect()
    top = {r["qid"]: r["nbr_id"] for r in out}
    assert top.get(0) == 1 and top.get(1) == 0


def test_lsh_topk_multiband_recall(spark, emb):
    """Union of two independent plane bands must find at least what either
    single band finds (here: it recovers the brute-force top-1)."""
    import numpy as np
    from vlm_ocr_doc_reader_spark.datapipe.similarity import lsh_topk_multiband
    bands = [np.random.default_rng(s).normal(size=(4, 3)).tolist()
             for s in (0, 1)]
    out = lsh_topk_multiband(emb, bands, k=1).collect()
    top = {r["qid"]: r["nbr_id"] for r in out}
    assert top.get(0) == 1 and top.get(1) == 0


def test_srp_bucket_cap_bounds_degenerate_cluster(spark):
    """A dense near-identical cluster landing in one SRP bucket must be
    dropped by the cap (bounded candidates), reported by
    srp_dropped_buckets, and untouched when under the cap."""
    import numpy as np
    from vlm_ocr_doc_reader_spark.datapipe.similarity import (
        embedding_near_dups, srp_dropped_buckets)
    rng = np.random.default_rng(3)
    base = rng.normal(size=8)
    rows = [(i, (base + rng.normal(scale=1e-3, size=8)).tolist())
            for i in range(60)]                    # one degenerate cluster
    rows += [(100 + i, rng.normal(size=8).tolist()) for i in range(6)]
    e = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    planes = rng.normal(size=(5, 8)).tolist()

    capped = lsh_topk_multiprobe(e, planes, k=3, n_flip=0, max_bucket=50)
    # the 60-row cluster's bucket is dropped: no qid from it survives
    assert capped.filter(F.col("qid") < 100).count() == 0
    dropped = srp_dropped_buckets(e, planes, max_bucket=50).collect()
    assert len(dropped) >= 1 and max(r["sz"] for r in dropped) >= 60

    pairs = embedding_near_dups(e, threshold=0.0, planes=planes,
                                max_bucket=50).count()
    assert pairs <= 66 * 65 / 2 - 60 * 59 / 2  # cluster pairs never form

    # under a generous cap the cluster is kept (no silent behavior change)
    uncapped = lsh_topk_multiprobe(e, planes, k=3, n_flip=0,
                                   max_bucket=1000)
    assert uncapped.filter(F.col("qid") < 100).count() > 0


def test_lsh_topk_has_no_id_self_join(spark, emb):
    """The SRP bucket is computed inline: the plan must not shuffle the
    vector table on the raw id column (the r2 bucket self-join did)."""
    import numpy as np
    import re
    planes = np.random.default_rng(0).normal(size=(4, 3)).tolist()
    q = lsh_topk_multiprobe(emb, planes, k=1, n_flip=0)
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted")
    assert not re.search(r"hashpartitioning\(id#", plan)


def test_embedding_near_dups(emb):
    # the exact all-pairs path needs an explicit opt-in (scale footgun guard)
    with pytest.raises(ValueError):
        embedding_near_dups(emb, threshold=0.95)
    got = {(r["id_a"], r["id_b"]) for r in
           embedding_near_dups(emb, threshold=0.95, exact=True).collect()}
    assert got == {(0, 1), (2, 3)}


def test_lang_id_script_ranges(spark):
    """Non-Latin scripts are classified by script dominance before the
    marker-word vote; Latin text still uses markers; mixed text with no
    dominant script falls through to the vote."""
    rows = [
        (1, "机器学习模型在大规模数据上训练"),                   # Han -> zh
        (2, "التعلم الآلي على نطاق واسع"),                      # Arabic -> ar
        (3, "Обработка данных без маркерных слов"),             # Cyrillic -> ru
        (4, "the model and the data of the pipeline"),          # markers -> en
        (5, "der Tisch und die Daten der Pipeline"),            # markers -> de
        (6, "zzz qqq xxx"),                                     # latin, no hits
        (7, "好 the data and the model"),                       # latin dominant
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(df).collect()}
    assert got == {1: "zh", 2: "ar", 3: "ru", 4: "en", 5: "de",
                   6: "und", 7: "en"}


def test_quality_and_lang_and_fingerprint(docs):
    q = {r["doc_id"]: r for r in quality_features(docs).collect()}
    assert q[1]["n_tokens"] == 9
    assert q[1]["quality_score"] > q[5]["quality_score"]
    lang = {r["doc_id"]: r["pred_lang"] for r in lang_id(docs).collect()}
    assert lang[1] == "en" and lang[5] == "und"
    fp = {r["id"]: r["fingerprint"] for r in fingerprint(docs).collect()}
    assert fp[1] == fp[2] and fp[1] != fp[4]


def test_multimodal_stub_plumbing(spark):
    rows = [("d1", "img_1", "image", b"\x89PNG fake", (64, 48, None, "png")),
            ("d1", "vid_1", "video", b"\x00 fake", (320, 240, 3500, "mp4"))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_media_features(media).collect()
    assert len(feats) == 2
    f = {r["media_ref"]: r for r in feats}
    assert f["img_1"]["payload_bytes"] == 9
    assert all(0 <= f["img_1"][f"feat{i}"] < 1 for i in range(4))
    # determinism
    feats2 = extract_media_features(media).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, feats2))

    plan = frame_sample_plan(media, every_ms=1000).collect()
    assert [r["ts_ms"] for r in plan] == [0, 1000, 2000]

    # resize: schema preserved, meta width/height updated, deterministic
    from vlm_ocr_doc_reader_spark.datapipe.multimodal import resize_media
    small = resize_media(media, 32, 24)
    assert small.schema == media.schema
    rs = {r["media_ref"]: r for r in small.collect()}
    assert rs["img_1"]["meta"]["width"] == 32
    assert rs["img_1"]["meta"]["height"] == 24
    assert rs["img_1"]["meta"]["format"] == "png"   # untouched meta survives
    assert rs["img_1"]["payload"] != b"\x89PNG fake"
    assert rs["img_1"]["payload"] == \
        {r["media_ref"]: r for r in resize_media(media, 32, 24)
         .collect()}["img_1"]["payload"]

    with pytest.raises(NotImplementedError):
        decode_image(b"x")


def test_ivf_topk_recall_vs_brute_force(spark):
    import pyspark.sql.functions as F
    import random
    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    from vlm_ocr_doc_reader_spark.datapipe.similarity import (brute_force_topk,
                                                              ivf_topk)
    q = emb.select(F.col("vec_id").alias("qid"),
                   F.col("embedding").alias("qvec"))
    exact = {(r["qid"], r["rank"]): r["nbr_id"]
             for r in brute_force_topk(emb, q, k=1).collect()}
    approx = {(r["qid"], r["rank"]): r["nbr_id"]
              for r in ivf_topk(emb, n_centroids=8, n_probe=4, k=1).collect()}
    hits = sum(approx.get(k_) == v for k_, v in exact.items())
    recall = hits / len(exact)
    assert recall >= 0.5, recall  # probing half the cells on gaussian data
    assert len(approx) == 120


def test_cache_registry_safety_net(spark):
    """A caller who transforms a persisting operator's result loses the
    per-frame handle attribute; release_all_cached() still frees the
    persisted intermediate (r4 advice)."""
    from vlm_ocr_doc_reader_spark.datapipe.cache import (
        attach_cached_deps, outstanding_cached, release_all_cached)
    base = spark.range(100).persist()
    base.count()
    out = attach_cached_deps(base.selectExpr("id * 2 AS x"), base)
    lost = out.filter("x > 10")          # attribute does not propagate
    assert not hasattr(lost, "_cached_deps")
    assert any(h is base for h in outstanding_cached())
    released = release_all_cached()
    assert released >= 1
    sl = base.storageLevel
    assert not (sl.useMemory or sl.useDisk)


def test_cache_registry_survives_python_gc(spark):
    """The JVM CacheManager keeps persisted data alive no matter what
    CPython frees — the registry must hold STRONG refs so the safety net
    still works after the result frame (the only attribute carrier) is
    garbage-collected (the bench between-passes pattern)."""
    import gc

    from vlm_ocr_doc_reader_spark.datapipe.cache import (
        attach_cached_deps, outstanding_cached, release_all_cached)

    def run_and_drop():
        base = spark.range(64).persist()
        base.count()
        out = attach_cached_deps(base.selectExpr("id + 1 AS y"), base)
        out.count()                     # action; then every local dies

    run_and_drop()
    gc.collect()
    live = outstanding_cached()
    assert live, "registry lost the handle after Python GC"
    assert release_all_cached() >= 1
    assert not outstanding_cached()
