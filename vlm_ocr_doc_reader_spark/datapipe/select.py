"""Training-data selection: SemDeDup and DSIR importance resampling.

Two published, deterministic data-selection methods every large-scale
pretraining pipeline runs between raw crawl and tokenizer:

  * ``semdedup`` — SemDeDup (Abbas et al., 2023): cluster embeddings,
    then within each cluster drop all but one member of every semantic
    near-duplicate group (pairwise cosine >= threshold).  The keep rule
    follows the paper: among duplicates, keep the example LEAST similar
    to its cluster centroid (ties broken on min id) — the survivor is
    the most "informative" member of the group.
  * ``dsir_logweights`` / ``dsir_select`` — Data Selection via
    Importance Resampling (Xie et al., 2023): hashed n-gram bucket
    counts give every document an importance log-weight
    ``sum_b n_d[b] * ln(p_target[b] / p_raw[b])`` toward a target
    distribution; resampling is Gumbel-top-k over those weights with
    deterministic md5-derived noise (the same exponential-race idiom as
    ``sampling.weighted_sample_topk``).

Scale shape (the 100-TB contract for each):
  * semdedup's centroid table collapses to ONE broadcast array row
    (``ivf_topk``'s trick), so cluster assignment is a zero-shuffle
    narrow argmax; the only corpus-sized exchange is the within-cluster
    pair join on the cluster id, and clusters above ``max_cluster`` are
    EXCLUDED from pair generation (their rows all survive, flagged by
    the ``semdedup_over_cap`` companion) so one mega-cluster cannot go
    O(n^2) — the no-silent-caps idiom.
  * DSIR's bucket table is ``n_buckets`` rows — it broadcasts into the
    per-doc scoring join; feature extraction is narrow (split +
    zip_with, never a self-join), the two bucket-count aggregates
    combine map-side, and the final top-k compiles to
    TakeOrderedAndProject (per-partition top-k, never a global sort).
    Per-doc weights accumulate in DECIMAL over 12-dp-rounded log terms,
    so scores are partition-invariant (ARCHITECTURE §6) and exactly
    SQL-mirrorable.

Reference parity: the reference engine has no selection layer (its
corpus is the operator's input); these extend the training-data
pipeline the brief requires.  Clustering reuses the deterministic
md5-seeded centroid pick and the cell scorer of ``similarity``
(``_centroid_array``, ``_nearest_cells``) so the whole operator stays
oracle-able.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cache import attach_cached_deps
from .similarity import (_as_double, _centroid_array, _cosine, _dot,
                         _nearest_cells, _norm2)


def _assign_clusters(emb: DataFrame, n_clusters: int, id_col: str,
                     vec_col: str, refine_iters: int = 0) -> DataFrame:
    """(id, cid, cent_cos, vd, vnorm): every vector in its nearest
    (max-cosine, ties min cid) cluster.  Narrow: the centroid array is a
    single broadcast row (``similarity._centroid_array``); scoring is the
    per-row ``similarity._nearest_cells``.  A vector with no cosine to any
    centroid (zero, NULL or ragged) ranks every cluster last — it is
    pinned to the min-cid cluster with a NULL cent_cos (the SQL twin's
    NULLS-LAST DESC ordering lands on the same row)."""
    cent_arr = _centroid_array(emb, n_clusters, id_col, vec_col,
                               refine_iters)
    e = emb.select(F.col(id_col).alias("id"),
                   _as_double(F.col(vec_col)).alias("vd"))
    best = F.element_at(_nearest_cells(F.col("vd"), F.col("vnorm"),
                                       F.col("cents"), 1), 1)
    out = (e.join(F.broadcast(cent_arr))
           .withColumn("vnorm", _norm2(F.col("vd")))
           .withColumn("_best", best)
           .select("id", "vd", "vnorm",
                   F.col("_best")["cid"].alias("cid"),
                   F.round(F.when(F.col("_best")["ncos"]
                                  == float("inf"), None)
                           .otherwise(-F.col("_best")["ncos"]), 6)
                   .alias("cent_cos")))
    return attach_cached_deps(out, cent_arr)


def semdedup(emb: DataFrame, n_clusters: int = 16, threshold: float = 0.8,
             id_col: str = "vec_id", vec_col: str = "embedding",
             max_cluster: int = 1000, refine_iters: int = 0,
             persist_intermediate: bool = True) -> DataFrame:
    """SemDeDup over an embedding column.  Output one row per input row:
    (vec_id, cid, cent_cos, is_kept) — ``is_kept`` false iff some other
    member of the same cluster has pairwise cosine >= ``threshold`` and
    strictly lower centroid-similarity (ties on min id), i.e. exactly
    one survivor per semantic duplicate group, the one farthest from
    the centroid (the paper's keep rule).

    Comparisons run on 6-dp-rounded cosines on BOTH engines, so the
    keep decision sits on a rounded boundary, never a last-ulp race
    (the float-agg determinism rule).  Clusters larger than
    ``max_cluster`` skip pair generation entirely — all their rows
    survive; ``semdedup_over_cap`` reports them.

    The assignment frame feeds THREE branches (size cap, pair join,
    final output), so it is persisted by default — release via
    ``datapipe.cache.release_cached(result)``; without the cut Catalyst
    re-runs the centroid scan + argmax per branch.

    ``refine_iters`` > 0 replaces the seeded centroids with Lloyd
    (k-means) rounds — tighter cells catch more true semantic dups at
    the same pair budget (the paper's clustering); deterministic but
    not SQL-oracled, so the gate entry runs 0."""
    a = _assign_clusters(emb, n_clusters, id_col, vec_col, refine_iters)
    if persist_intermediate:
        from pyspark import StorageLevel
        a = a.persist(StorageLevel.MEMORY_AND_DISK)
    sized = (a.groupBy("cid").agg(F.count("*").alias("sz"))
             .filter((F.col("sz") > 1) & (F.col("sz") <= max_cluster)))
    paired = a.join(F.broadcast(sized.select("cid")), "cid")
    left = paired.select("cid", F.col("id").alias("id_a"),
                         F.col("vd").alias("va"),
                         F.col("vnorm").alias("qnorm"),
                         F.col("cent_cos").alias("cc_a"))
    right = paired.select("cid", F.col("id").alias("id_b"),
                          F.col("vd").alias("vb"),
                          F.col("vnorm").alias("nnorm"),
                          F.col("cent_cos").alias("cc_b"))
    # a NULL pair cosine never passes the threshold: a zero, NULL or
    # ragged vector is never dropped
    pair_cos = F.round(_cosine(_dot(F.col("va"), F.col("vb")),
                               F.col("qnorm"), F.col("nnorm")), 6)
    # id_a is dropped when a strictly-better survivor id_b exists: lower
    # rounded centroid-cos, ties broken on min id (total order -> exactly
    # one survivor per duplicate group, matching the SQL EXISTS twin)
    beats = ((F.col("cc_b") < F.col("cc_a"))
             | ((F.col("cc_b") == F.col("cc_a"))
                & (F.col("id_b") < F.col("id_a"))))
    dropped = (left.join(right, "cid")
               .filter(F.col("id_a") != F.col("id_b"))
               .filter(pair_cos >= threshold)
               .filter(beats)
               .select(F.col("id_a").alias("id")).distinct())
    out = (a.join(dropped.withColumn("_drop", F.lit(True)), "id", "left")
           .select(F.col("id").alias(id_col), "cid", "cent_cos",
                   F.col("_drop").isNull().alias("is_kept")))
    return attach_cached_deps(out, a)


def semdedup_over_cap(emb: DataFrame, n_clusters: int = 16,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      max_cluster: int = 1000) -> DataFrame:
    """(cid, sz) of clusters semdedup's cap excluded from pair
    generation — count/log this next to the pruned corpus so the cap is
    never silent."""
    return (_assign_clusters(emb, n_clusters, id_col, vec_col)
            .groupBy("cid").agg(F.count("*").alias("sz"))
            .filter(F.col("sz") > max_cluster))


def _hashed_features(df: DataFrame, n_buckets: int, id_col: str,
                     text_col: str,
                     target: Column | None = None) -> DataFrame:
    """(id, bucket, n[, is_t]): hashed unigram+bigram feature counts
    per doc.  Bucket = first 32 md5 bits of the feature string mod
    ``n_buckets`` (DuckDB twin: CAST('0x'||substr(md5(f),1,8) AS
    BIGINT) % B).  ``target`` rides along as a constant-per-doc
    ``is_t`` flag so the caller never re-scans the corpus to identify
    target docs.

    Arrow-batched kernel (the ``dedup._signature_frame`` pattern): the
    expression form exploded ~123 feature rows per doc, each paying an
    interpreted md5+conv projection plus the (id, bucket) partial
    aggregate — measured 19-31 CPU-s PER EVALUATION at sf0.1, and the
    two consumers racing the cache population paid it up to 4x (96
    CPU-s per dsir_select run).  The kernel emits the already-counted
    (id, bucket, n) rows — same bucket math (first-8-hex of md5, utf-8
    bytes, mod B), same per-occurrence counts, same null/empty-text
    drop (no feature rows) — for ~2 CPU-s.  The per-(id, bucket)
    output rows are what the old aggregate produced, so downstream
    joins/aggregates see identical frames."""
    id_dt = df.schema[id_col].dataType.simpleString()
    cols = [F.col(id_col).alias("id"), F.col(text_col).alias("_t")]
    schema = f"id {id_dt}, bucket int, n bigint"
    if target is not None:
        cols.append(target.alias("is_t"))
        schema += ", is_t boolean"

    def batches(it):
        import hashlib
        import re
        from collections import Counter

        import pyarrow as pa
        ws = re.compile(r"\s+", re.ASCII)
        md5 = hashlib.md5
        for rb in it:
            ids, buckets, ns, ts = [], [], [], []
            texts = rb.column(1).to_pylist()
            flags = rb.column(2).to_pylist() if rb.num_columns > 2 \
                else [None] * len(texts)
            for rid, t, flag in zip(rb.column(0).to_pylist(), texts,
                                    flags):
                if t is None:
                    continue
                words = [w for w in
                         ws.sub(" ", t.strip(" ")).lower().split(" ")
                         if w != ""]
                feats = words + [f"{a} {b}" for a, b in
                                 zip(words, words[1:])]
                if not feats:
                    continue
                cnt = Counter(
                    int(md5(f.encode()).hexdigest()[:8], 16) % n_buckets
                    for f in feats)
                for b, n in cnt.items():
                    ids.append(rid)
                    buckets.append(b)
                    ns.append(n)
                    ts.append(flag)
            arrays = [pa.array(ids, type=rb.column(0).type),
                      pa.array(buckets, type=pa.int32()),
                      pa.array(ns, type=pa.int64())]
            names = ["id", "bucket", "n"]
            if rb.num_columns > 2:
                arrays.append(pa.array(ts, type=pa.bool_()))
                names.append("is_t")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.select(*cols).mapInArrow(batches, schema=schema)


def dsir_logweights(df: DataFrame, target: Column,
                    n_buckets: int = 1024, alpha: float = 1.0,
                    id_col: str = "doc_id", text_col: str = "text",
                    persist_intermediate: bool = True) -> DataFrame:
    """Per-doc DSIR importance log-weight toward the rows matching the
    ``target`` boolean column expression.  Output: (id, n_feats, logw),
    logw = sum over buckets of n_d[b] * ln(p_t[b] / p_r[b]) with
    Laplace-``alpha`` smoothed bucket distributions (p_t from target
    rows, p_r from ALL rows — the paper's raw distribution).  Docs with
    no features (empty text) are excluded.

    Determinism: the log-ratio is rounded to 12 dp on the B-row bucket
    frame (broadcast), contributions accumulate in DECIMAL, one final
    6-dp round — partition-invariant and exactly SQL-mirrorable.

    The hashed-feature table feeds two branches (the bucket
    distributions and the scoring join), so it is persisted
    (``persist_intermediate``); release via
    ``datapipe.cache.release_cached(result)``.  The target flag rides
    the feature frame (constant per doc), so BOTH distributions come
    from ONE bucket aggregate — no second corpus scan, no target-id
    join, one exchange instead of two (measured on the staged gate
    entry: 6.0 -> ~4.5 s at sf0.1)."""
    feats = _hashed_features(df, n_buckets, id_col, text_col,
                             target=target)
    cached = []
    if persist_intermediate:
        from pyspark import StorageLevel
        feats = feats.persist(StorageLevel.MEMORY_AND_DISK)
        cached = [feats]
    both = (feats.groupBy("bucket")
            .agg(F.sum("n").alias("cr"),
                 F.sum(F.when(F.col("is_t"), F.col("n"))
                       .otherwise(F.lit(0))).alias("ct")))
    tots = both.agg(F.sum("cr").alias("_tr"), F.sum("ct").alias("_tt"))
    lr = (both.crossJoin(F.broadcast(tots))
          .select("bucket", F.round(
              F.log(((F.col("ct") + F.lit(alpha))
                     / (F.col("_tt") + F.lit(alpha) * n_buckets))
                    / ((F.col("cr") + F.lit(alpha))
                       / (F.col("_tr") + F.lit(alpha) * n_buckets))),
              12).alias("lr")))
    out = (feats.join(F.broadcast(lr), "bucket")
           .groupBy("id")
           .agg(F.sum("n").cast("long").alias("n_feats"),
                F.round(F.sum((F.col("n") * F.col("lr"))
                              .cast("decimal(24,10)")).cast("double"), 6)
                .alias("logw")))
    return attach_cached_deps(out, *cached)


def dsir_select(df: DataFrame, target: Column, k: int = 100,
                n_buckets: int = 1024, alpha: float = 1.0,
                seed: str = "dsir", id_col: str = "doc_id",
                text_col: str = "text",
                persist_intermediate: bool = True) -> DataFrame:
    """DSIR selection: Gumbel-top-``k`` over the importance log-weights
    (sampling WITHOUT replacement proportional to exp(logw), the
    paper's resampling step) with deterministic md5-derived noise:
    u = first 48 md5 bits of (seed || id) / 2^48, g = -ln(-ln(u)).
    Output: (id, n_feats, logw, _skey) for the k winners, _skey the
    rounded perturbed score — TakeOrderedAndProject, never a global
    sort."""
    scored = dsir_logweights(df, target, n_buckets, alpha, id_col,
                             text_col, persist_intermediate)
    u = (F.conv(F.substring(
        F.md5(F.concat(F.lit(seed), F.col("id").cast("string"))), 1, 12),
        16, 10).cast("double") / F.lit(281474976710656.0))
    g = -F.log(-F.log(u))
    out = (scored
           .withColumn("_skey", F.round(F.col("logw") + g, 6))
           .orderBy(F.desc("_skey"), F.asc("id"))
           .limit(k))
    return attach_cached_deps(out, scored)
