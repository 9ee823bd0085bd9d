"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k with built-in higher-order functions
(zip_with + aggregate — JVM-side, no Python).  Scale path: LSH-bucketed
(sign-random-projection) search that prunes the candidate set to matching
buckets before the exact re-rank, so the cross product never materializes.

One similarity core serves every operator here and in ``select.py``:
  * ``_cosine`` is THE cosine: ``try_divide(dot, na * nb)``, NULL when the
    divisor is 0 or NULL (a zero or NULL vector has no direction) and when
    the dot is NULL (a NULL vector, a NULL element, or a ragged pair that
    zip_with pads with NULL).  ``_cosine_arrow`` is its numpy twin for the
    Arrow kernels: the same float64 operations, NULL on the same rows.  It
    never raises under ANSI mode, so a degenerate vector cannot fail a task;
  * a NULL cosine never ranks and never pairs: ``_topk`` filters it before
    every top-k window, and pair outputs compare it with a threshold (never
    true for NULL);
  * in cell assignment a NULL cosine ranks last, ties on the smallest cid
    (``_nearest_cells``), so every vector still lands in a cell;
  * ``_centroid_array`` is the one md5-seeded centroid pick and
    ``_member_arrays`` makes every cell's member array (with its loud
    ``_MAX_CELL`` cap).

Scale shape of the SRP paths:
  * the bucket is an inline per-row expression (``srp_bucket_expr``) — no
    self-join of the vector table to its own bucket projection, so the only
    exchange is the bucket-key shuffle of the pair join;
  * every bucketed pair join is guarded by ``max_bucket`` (the same
    degenerate-bucket cap as ``dedup.minhash_candidate_pairs``): a dense
    near-duplicate cluster landing in one SRP bucket is dropped instead of
    going O(n^2).  The cap is not silent — ``srp_dropped_buckets`` returns
    exactly what a given cap would drop so pipelines can count/log it;
  * with P planes there are only 2^P buckets, so P must grow with corpus
    size (buckets ~ n/2^P rows each); ``lsh_topk_multiband`` recovers the
    recall lost to finer buckets by unioning candidates over B independent
    plane sets at the same per-band cost, and ``lsh_topk_multiprobe`` by
    probing flipped buckets (``n_flip=0`` is plain single-probe SRP top-k).

At 100 TB the brute-force path is only for small query sets against a
broadcastable corpus sample; the bucketed paths shuffle once on the bucket
key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .cache import attach_cached_deps

# a cell's members travel as ONE array row (the IVF kernels score whole
# cells per probing row), so a cell larger than this fails loudly, naming
# the knob that shrinks cells, instead of outgrowing a row
_MAX_CELL = 100_000


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm2(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def _cosine(dot: Column, na: Column, nb: Column) -> Column:
    """dot / (na * nb); NULL when the divisor is 0 or NULL, or the dot is
    NULL.  ``try_divide`` is the same IEEE divide as ``/`` on every other
    row, so outputs on non-degenerate vectors are unchanged."""
    return F.try_divide(dot, na * nb)


def _cosine_arrow(dot, na, nb, null=None):
    """numpy twin of ``_cosine`` for the Arrow kernels: ``dot / (na * nb)``
    on float64 arrays, returned as an Arrow float64 array that is NULL
    where the divisor is 0 or ``null`` (a boolean mask) marks a NULL dot or
    norm — never the NaN/inf a bare numpy divide gives."""
    import numpy as np
    import pyarrow as pa
    den = na * nb
    mask = den == 0 if null is None else null | (den == 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = dot / den
    return pa.array(cos, type=pa.float64(), mask=mask)


def _with_vec_norm(df: DataFrame, vec_col: str = "v") -> DataFrame:
    """Attach (vd: vector cast to double ONCE, vnorm) to a frame of raw
    vectors.  Candidate-pair operators carry both through their joins so
    scoring a pair is a single dot fold + one divide — re-deriving the
    cast and norms per PAIR costs 3 array folds + 2 casts per candidate,
    and each vector lands in many candidates (measured: ivf_topk 13.7s ->
    3.2s at sf0.1 from this change alone).  Values are bit-identical: the
    same operations on the same inputs, just cached."""
    return (df.withColumn("vd", _as_double(F.col(vec_col)))
            .withColumn("vnorm", _norm2(F.col("vd")))
            .drop(vec_col))


def _carried_cosine():
    """Pair cosine from carried columns (va, vb, qnorm, nnorm)."""
    return _cosine(_dot(F.col("va"), F.col("vb")), F.col("qnorm"),
                   F.col("nnorm"))


def _topk(scored: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """Per-qid top-``k`` of (qid, nbr_id, ``score``): row_number over
    (score desc, nbr_id asc), ``score`` rounded to 6 dp.  A NULL score
    never ranks: it is filtered out before the window."""
    w = Window.partitionBy("qid").orderBy(F.desc(score), F.asc("nbr_id"))
    return (scored.filter(F.col(score).isNotNull())
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "nbr_id", "rank",
                    F.round(score, 6).alias(score)))


def _nearest_cells(vd: Column, vnorm: Column, cents: Column,
                   n: int) -> Column:
    """The ``n`` nearest cells of one vector: the broadcast centroid array
    ``cents`` (cid, cvec, cnorm) scored and sorted ascending on the struct
    (ncos = -cosine, cid), so ties go to the smallest cid.  A NULL cosine
    (zero, NULL or ragged vector or centroid) ranks LAST (+inf):
    array_sort is NULLS FIRST, which would hand degenerate rows the best
    cell.  A narrow per-row expression — no shuffle, no window."""
    def score(c):
        cos = _cosine(_dot(vd, c["cvec"]), vnorm, c["cnorm"])
        ncos = F.coalesce(-cos, F.lit(float("inf")))
        return F.struct(ncos.alias("ncos"), c["cid"].alias("cid"))
    return F.slice(F.array_sort(F.transform(cents, score)), 1, n)


def _collect_centroids(cents: DataFrame) -> DataFrame:
    """(cid, cvec) -> ONE row ``cents`` = array<struct<cid, cvec, cnorm>>,
    the broadcast form every cell scorer reads."""
    return (cents.select("cid", "cvec", _norm2(F.col("cvec")).alias("cnorm"))
            .agg(F.collect_list(F.struct("cid", "cvec", "cnorm"))
                 .alias("cents")))


def _centroid_array(emb: DataFrame, n_centroids: int, id_col: str,
                    vec_col: str, refine_iters: int = 0) -> DataFrame:
    """The one-row centroid array of the ``n_centroids`` lowest md5(id)
    vectors — a seeded sample with no content/id bias, portable to the SQL
    oracles.  Sorting ONLY (id, md5) keeps the embedding payload out of the
    ordered-limit input, so Spark picks TakeOrderedAndProject (per-partition
    top-n + driver merge) instead of a range exchange of the corpus; the
    vectors are then fetched by a broadcast semi-join on the id.
    ``refine_iters`` > 0 runs Lloyd rounds (``refine_centroids``) on the
    seeded pick — data-adapted cells, NOT SQL-oracled (the gate entries
    run 0)."""
    ckeys = (emb.select(F.col(id_col).alias("cid"),
                        F.md5(F.col(id_col).cast("string")).alias("_k"))
             .orderBy("_k").limit(n_centroids).select("cid"))
    cents = (emb.join(F.broadcast(ckeys), F.col(id_col) == F.col("cid"))
             .select("cid", _as_double(F.col(vec_col)).alias("cvec")))
    if refine_iters > 0:
        cents = refine_centroids(emb, cents, iters=refine_iters,
                                 id_col=id_col, vec_col=vec_col)
    return attach_cached_deps(_collect_centroids(cents), cents)


def _member_arrays(df: DataFrame, op: str, *fields: str) -> DataFrame:
    """ONE nbr_id-sorted member-array row per cell: (cid, members
    array<struct<fields>>).  A cell over ``_MAX_CELL`` members raises,
    naming n_centroids (the knob that shrinks cells), instead of silently
    dropping its members from every probing query's candidates; the check
    folds to a no-op on every in-bound cell."""
    members = (df.groupBy("cid")
               .agg(F.array_sort(F.collect_list(F.struct(*fields)))
                    .alias("members")))
    return members.withColumn("members", F.when(
        F.size("members") > _MAX_CELL,
        F.raise_error(F.concat(
            F.lit(f"{op}: cell "), F.col("cid").cast("string"),
            F.lit(f" holds more than max_cell={_MAX_CELL} vectors ("),
            F.size("members").cast("string"),
            F.lit(") - raise n_centroids so cells stay row-sized"))))
        .otherwise(F.col("members")))


def brute_force_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    ``queries``: (qid, qvec).  The query side is broadcast (small by
    contract), so the corpus is scanned once with no shuffle; the top-k is a
    per-qid window.  Output: (qid, nbr_id, rank, cosine).

    Each side's double-cast and norm are computed ONCE per row and carried
    through the join (the ``_with_vec_norm`` pattern): every vector lands
    in many pairs, and re-deriving cast + both norms per PAIR tripled the
    per-pair fold count."""
    corpus = (emb.select(F.col(id_col).alias("nbr_id"),
                         _as_double(F.col(vec_col)).alias("vb"))
              .withColumn("nnorm", _norm2(F.col("vb"))))
    qs = (queries.select("qid", _as_double(F.col("qvec")).alias("va"))
          .withColumn("qnorm", _norm2(F.col("va"))))
    crossed = F.broadcast(qs).join(corpus, F.col("qid") != F.col("nbr_id"))
    return _topk(crossed.withColumn("cosine", _carried_cosine()), k)


def srp_bucket_expr(vec_col: str, planes: list[list[float]]) -> Column:
    """Inline sign-random-projection bucket: bit p = (v . plane_p) >= 0.
    A narrow per-row expression — add it to a projection instead of joining
    a separate bucket frame (the r2 plan paid an avoidable exchange of the
    full vector column for that self-join)."""
    v = _as_double(F.col(vec_col))
    bucket = None
    for p, plane in enumerate(planes):
        d = _dot(v, F.array(*[F.lit(float(x)) for x in plane]))
        bit = F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def srp_buckets(emb: DataFrame, planes: list[list[float]],
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Standalone (id, bucket) frame — kept for callers that only need the
    bucket assignment; the pair-generating operators below inline
    ``srp_bucket_expr`` instead of joining this frame."""
    return emb.select(F.col(id_col).alias("id"),
                      srp_bucket_expr(vec_col, planes).alias("bucket"))


def _cap_buckets(e: DataFrame, max_bucket: int,
                 bucket_cols: list[str] | None = None) -> DataFrame:
    """Keep only rows of buckets with 2..max_bucket members.  Singleton
    buckets produce no pairs anyway; over-cap buckets are the degenerate
    O(n^2) hazard.  The sized frame has at most 2^planes (x bands) rows, so
    it broadcasts — the cap costs one count aggregate, never a wide join."""
    cols = bucket_cols or ["bucket"]
    sized = (e.groupBy(*cols).agg(F.count("*").alias("sz"))
             .filter((F.col("sz") > 1) & (F.col("sz") <= max_bucket)))
    return e.join(F.broadcast(sized.select(*cols)), cols)


def _pair_scan(left: DataFrame, right: DataFrame, id_dt: str) -> DataFrame:
    """Score every same-cell (left x right) vector pair in a vectorized
    Arrow kernel over per-cell member arrays — ``ivf_topk``'s pair stage.

    ``left``: (cid, qid, va, qnorm); ``right``: (cid, nbr_id, vb, nnorm) —
    both sides carrying the once-computed double cast and norm
    (``_with_vec_norm``).  The right side collapses to ONE member-array row
    per cell (``_member_arrays``, with its loud cell cap), the left side
    broadcast-joins those n_centroids rows, and the kernel scores a whole
    member array per left row.  Output: (qid, nbr_id, cosine) for every
    pair with qid != nbr_id.

    Bit-exact vs the expression form (``_carried_cosine()`` =
    aggregate(zip_with) fold): dot is an elementwise left fold from 0.0 in
    index order (never np.sum, whose pairwise blocking changes addition
    order), cosine is ``_cosine_arrow`` on the same carried norms, and
    EVERY pair is emitted — no in-kernel top-k — so ``_topk`` keeps Spark
    ordering/tie semantics unchanged.  Batches holding a NULL vector, a
    NULL element or ragged lengths take a per-pair fallback that mirrors
    zip_with+aggregate null algebra (any of them -> NULL dot).

    WHEN TO USE (measured): wins when keys are FEW and member arrays
    LARGE (IVF cells: 16 keys x ~125 members at sf0.1 — ivf_topk
    4.22 -> 2.25 s same-window), because each left row amortizes the
    Arrow boundary over a whole cell of folds.  LOSES on many-small-
    bucket keys (SRP buckets: lsh_multiprobe 2.78 -> 3.10 s,
    near_dup_lsh 1.57 -> 1.98 s same-window at sf0.1), so the LSH callers
    keep the JVM fold join."""
    members = _member_arrays(right, "ivf_topk", "nbr_id", "vb", "nnorm")

    def _pair_batches(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        for rb in it:
            qid_a, va_a, qn_a, mem_a = rb.columns
            flat = mem_a.flatten()
            p = pc.list_parent_indices(mem_a).to_numpy(zero_copy_only=False)
            nbr, vb_a, nn_a = (flat.field(f)
                               for f in ("nbr_id", "vb", "nnorm"))
            va_f, vb_f = va_a.flatten(), vb_a.flatten()
            lens = np.concatenate((
                pc.list_value_length(va_a).to_numpy(zero_copy_only=False),
                pc.list_value_length(vb_a).to_numpy(zero_copy_only=False)))
            qn = qn_a.to_numpy(zero_copy_only=False)[p]
            nn = nn_a.to_numpy(zero_copy_only=False)
            if len(flat) == 0:
                null = None
                dot = np.zeros(0)
            elif (va_a.null_count == vb_a.null_count == 0
                    and va_f.null_count == vb_f.null_count == 0
                    and lens.min() == lens.max()):
                d = int(lens[0])
                VAp = np.asarray(va_f).reshape(len(va_a), d)[p]
                VB = np.asarray(vb_f).reshape(len(flat), d)
                dot = np.zeros(len(flat), dtype=np.float64)
                for j in range(d):
                    dot = dot + VAp[:, j] * VB[:, j]
                null = None
            else:
                va_py, vb_py = va_a.to_pylist(), vb_a.to_pylist()
                dot = np.zeros(len(flat), dtype=np.float64)
                null = np.zeros(len(flat), dtype=bool)
                for i in range(len(flat)):
                    a, b = va_py[p[i]], vb_py[i]
                    if (a is None or b is None or len(a) != len(b)
                            or None in a or None in b):
                        null[i] = True
                        continue
                    acc = 0.0
                    for x, y in zip(a, b):
                        acc = acc + x * y
                    dot[i] = acc
                null |= (qn_a.is_null().to_numpy(zero_copy_only=False)[p]
                         | nn_a.is_null().to_numpy(zero_copy_only=False))
            cos = _cosine_arrow(dot, qn, nn, null)
            ql = qid_a.take(pa.array(p, type=pa.int64()))
            keep = pa.array(np.flatnonzero(
                pc.not_equal(ql, nbr).to_numpy(zero_copy_only=False)),
                type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [ql.take(keep), nbr.take(keep), cos.take(keep)],
                names=["qid", "nbr_id", "cosine"])

    return (left.join(F.broadcast(members), "cid")
            .select("qid", "va", "qnorm", "members")
            .mapInArrow(_pair_batches,
                        schema=f"qid {id_dt}, nbr_id {id_dt}, "
                               f"cosine double"))


def srp_dropped_buckets(emb: DataFrame, planes: list[list[float]],
                        max_bucket: int = 1000,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """(bucket, sz) of buckets the cap would drop — the no-silent-caps
    companion: pipelines count/log this next to the capped result."""
    return (srp_buckets(emb, planes, id_col, vec_col)
            .groupBy("bucket").agg(F.count("*").alias("sz"))
            .filter(F.col("sz") > max_bucket))


def lsh_topk_multiband(emb: DataFrame,
                       plane_bands: list[list[list[float]]], k: int = 5,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       max_bucket: int = 1000) -> DataFrame:
    """Multi-band SRP top-k: B independent plane sets, candidates unioned
    across bands (a pair is a candidate if ANY band buckets it together) —
    the recall knob that lets the per-band plane count grow with corpus
    size without losing near neighbors to unlucky single-band splits.

    Shape: one posexplode (narrow) tags each row with its B (band, bucket)
    keys, the per-(band, bucket) cap guards every band, the pair join
    shuffles once on (band, bucket), and the cross-band duplicate pairs
    collapse in the same aggregation that feeds the top-k window."""
    buckets = F.array(*[srp_bucket_expr(vec_col, planes)
                        for planes in plane_bands])
    e = (emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                    F.posexplode(buckets).alias("band", "bucket")))
    e = _with_vec_norm(_cap_buckets(e, max_bucket, ["band", "bucket"]))
    left = e.select(F.col("id").alias("qid"), F.col("vd").alias("va"),
                    F.col("vnorm").alias("qnorm"), "band", "bucket")
    right = e.select(F.col("id").alias("nbr_id"), F.col("vd").alias("vb"),
                     F.col("vnorm").alias("nnorm"), "band", "bucket")
    cand = (left.join(right, ["band", "bucket"])
            .filter(F.col("qid") != F.col("nbr_id")))
    # cosine is identical whichever band proposed the pair -> max() dedups
    scored = (cand.withColumn("cosine", _carried_cosine())
              .groupBy("qid", "nbr_id")
              .agg(F.max("cosine").alias("cosine")))
    return _topk(scored, k)


def refine_centroids(emb: DataFrame, cents: DataFrame, iters: int = 2,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Lloyd (k-means) refinement of an IVF centroid table: ``iters``
    rounds of assign-to-nearest (cosine) + recompute-as-mean.  Input and
    output: (cid, cvec array<double>) — feed ``ivf_topk(refine_iters=...)``
    or call directly on the md5-seeded pick to get data-adapted cells
    (tighter cells -> better recall at the same n_probe).

    Scale shape per round: assignment is the same zero-shuffle broadcast-
    array argmax as ``ivf_topk`` (``_nearest_cells``: a vector with no
    cosine to any centroid goes to the smallest cid); the mean recompute
    explodes (cid, pos, val) and hash-aggregates on (cid, pos) — map-side
    partial sums mean the shuffle carries n_centroids x dim x partitions
    rows, never the corpus.  Cells that lose all members keep their
    previous centroid (classic empty-cell rule).  Deterministic: no RNG
    anywhere, ties break on min cid.

    Lazy: building the frame starts no Spark job.  Each round's table is
    persisted, so the rounds after it read it once instead of re-running
    the rounds before; the handles ride on the result
    (``cache.release_cached``)."""
    e = emb.select(F.col(id_col).alias("id"),
                   _as_double(F.col(vec_col)).alias("vd"))
    rounds = []
    for _ in range(iters):
        best = F.element_at(_nearest_cells(
            F.col("vd"), F.col("vnorm"), F.col("cents"), 1), 1)
        assigned = (e.join(F.broadcast(_collect_centroids(cents)))
                    .withColumn("vnorm", _norm2(F.col("vd")))
                    .withColumn("cid", best["cid"])
                    .select("cid", F.posexplode("vd").alias("pos", "val")))
        means = (assigned.groupBy("cid", "pos")
                 .agg(F.avg("val").alias("m"))
                 .groupBy("cid")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(
                         F.struct(F.col("pos").alias("p"),
                                  F.col("m").alias("v")))),
                     lambda s: s["v"]).alias("new_cvec")))
        cents = (cents.join(means, "cid", "left")
                 .select("cid",
                         F.coalesce(F.col("new_cvec"), F.col("cvec"))
                         .alias("cvec")))
        # a persist, not a checkpoint: under adaptive execution even a
        # lazy localCheckpoint runs the round's shuffle and broadcast
        # stages while the plan is being built
        cents = cents.persist()
        rounds.append(cents)
    return attach_cached_deps(cents, *rounds)


def ivf_topk(emb: DataFrame, n_centroids: int = 16, n_probe: int = 4,
             k: int = 5, id_col: str = "vec_id",
             vec_col: str = "embedding",
             refine_iters: int = 0) -> DataFrame:
    """IVF-style approximate top-k: deterministic pseudo-random centroids
    (``_centroid_array``: the ``n_centroids`` lowest md5(id) vectors), every
    vector assigned to its nearest centroid (one broadcast pass), queries
    probe the ``n_probe`` nearest cells and re-rank exactly within them.

    Scale shape: the centroid pick compiles to TakeOrderedAndProject; the
    n_centroids centroids collapse into ONE broadcast array row, so cell
    assignment and probe-cell selection are a narrow per-row array_sort
    (``_nearest_cells``) — zero shuffle, no window.  Cells collapse to ONE
    member-array row each and the exact-cosine scan of a whole cell runs
    in the ``_pair_scan`` Arrow kernel: the old pair join materialized
    queries x probes x cell-members rows each paying an interpreted
    64-element HOF dot fold (~6 us/pair — the measured bulk of ivf_topk's
    wall).  The n_centroids member rows broadcast; every pair is emitted,
    so the top-k window keeps Spark semantics exactly.  Scale bound: a
    cell's members must fit one row (``_MAX_CELL`` raises past it), so
    n_centroids must grow with the corpus.  Output:
    (qid, nbr_id, rank, cosine).

    ``refine_iters`` > 0: Lloyd rounds tighten the md5-seeded pick so the
    same n_probe covers more true neighbors.  NOT SQL-oracled (the gate
    entry runs refine_iters=0); covered by the recall test instead.
    """
    cents = _centroid_array(emb, n_centroids, id_col, vec_col, refine_iters)
    # the cast and norm are computed ONCE per row and carried through the
    # candidate join: each vector lands in ~(n_probe x cell-size) pairs
    tagged = (emb.select(F.col(id_col).alias("id"),
                         _as_double(F.col(vec_col)).alias("vd"))
              .join(F.broadcast(cents))
              .withColumn("vnorm", _norm2(F.col("vd")))
              .withColumn("cells", _nearest_cells(
                  F.col("vd"), F.col("vnorm"), F.col("cents"), n_probe))
              .drop("cents"))
    # data side: each vector lives in its single nearest cell
    assign = tagged.select(
        F.element_at("cells", 1)["cid"].alias("cid"),
        F.col("id").alias("nbr_id"), F.col("vd").alias("vb"),
        F.col("vnorm").alias("nnorm"))
    # query side: probe the n_probe nearest cells
    probes = tagged.select(
        F.col("id").alias("qid"), F.col("vd").alias("va"),
        F.col("vnorm").alias("qnorm"),
        F.explode(F.transform("cells", lambda s: s["cid"])).alias("cid"))
    scored = _pair_scan(probes, assign,
                        emb.schema[id_col].dataType.simpleString())
    return attach_cached_deps(_topk(scored, k), cents)


def embedding_near_dups(emb: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        planes: list[list[float]] | None = None,
                        exact: bool = False,
                        max_bucket: int = 1000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= thr).

    The default (and the 100-TB path) is SRP-LSH-bucketed pair generation —
    pass deterministic ``planes`` (seeded numpy in the caller); the bucket
    is computed inline (no self-join) and buckets over ``max_bucket`` rows
    are dropped so a dense duplicate cluster cannot go O(n^2)
    (``srp_dropped_buckets`` reports what the cap removed).  The exact
    all-pairs crossJoin is a verification tool for small inputs and requires
    an explicit ``exact=True`` opt-in so the quadratic path can never be
    reached by default-argument accident.  A NULL cosine never passes the
    threshold, so a degenerate vector never pairs."""
    if planes is None and not exact:
        raise ValueError(
            "embedding_near_dups: pass `planes` for the LSH-bucketed scale "
            "path, or opt in to the exact all-pairs crossJoin with "
            "exact=True (small inputs only)")
    if planes is not None:
        e = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                       srp_bucket_expr(vec_col, planes).alias("bucket"))
        e = _with_vec_norm(_cap_buckets(e, max_bucket))
        a = e.select(F.col("id").alias("id_a"), F.col("vd").alias("va"),
                     F.col("vnorm").alias("qnorm"), "bucket")
        c = e.select(F.col("id").alias("id_b"), F.col("vd").alias("vb"),
                     F.col("vnorm").alias("nnorm"), "bucket")
        cand = a.join(c, "bucket")
    else:
        e = _with_vec_norm(
            emb.select(F.col(id_col).alias("id"),
                       F.col(vec_col).alias("v")))
        a = e.select(F.col("id").alias("id_a"), F.col("vd").alias("va"),
                     F.col("vnorm").alias("qnorm"))
        c = e.select(F.col("id").alias("id_b"), F.col("vd").alias("vb"),
                     F.col("vnorm").alias("nnorm"))
        cand = a.crossJoin(c)
    cand = cand.filter(F.col("id_a") < F.col("id_b"))
    return (cand.withColumn("cosine", _carried_cosine())
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", F.round("cosine", 6).alias("cosine")))


def lsh_topk_multiprobe(emb: DataFrame, planes: list[list[float]],
                        k: int = 5, n_flip: int = 2,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        max_bucket: int = 1000) -> DataFrame:
    """Multi-probe SRP top-k (Lv et al. 2007, VLDB — adapted from
    p-stable to sign-random-projection): instead of paying for more
    tables (``lsh_topk_multiband``), the QUERY side also probes the
    buckets reached by flipping its ``n_flip`` least-confident sign
    bits — the planes with the smallest |dot|, where the true neighbor
    most plausibly landed on the other side.  Same recall lever at
    1/B-th the index size: the data side stays ONE bucket per vector.
    ``n_flip=0`` is plain single-probe SRP top-k: candidates share a
    bucket, exact cosine re-rank within it.

    Shape: per-row plane dots are computed once into an array (narrow);
    the flip choice is a per-row array_sort over (|dot|, plane) — no
    shuffle; the data side keeps its main bucket; the query side
    explodes 1 + n_flip probe buckets; the pair join shuffles once on
    the bucket key with the same per-bucket cap as every other bucketed
    path; cross-probe duplicate pairs collapse in the scoring
    aggregate.  Ties on |dot| break on plane index (deterministic, and
    mirrored by the SQL twin).  Queries living only in dropped buckets
    return no neighbors — ``srp_dropped_buckets`` surfaces them."""
    n_planes = len(planes)
    if n_planes > 30:
        # bucket and probe flips live in a signed 32-bit int (1 << p and
        # pow(2.0, i).cast('int')); beyond 30 planes the shift silently
        # overflows/loses exactness instead of failing (ADVICE r6)
        raise ValueError(
            f"lsh_topk_multiprobe supports at most 30 planes (int bucket "
            f"bits); got {n_planes} — use lsh_topk_multiband to add "
            f"recall beyond that")
    e0 = (emb.select(F.col(id_col).alias("id"),
                     _as_double(F.col(vec_col)).alias("vd"))
          .withColumn("vnorm", _norm2(F.col("vd")))
          .withColumn("dots", F.array(*[
              _dot(F.col("vd"),
                   F.array(*[F.lit(float(x)) for x in plane]))
              for plane in planes])))
    bucket = None
    for p in range(n_planes):
        bit = F.when(F.element_at("dots", p + 1) >= 0,
                     F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    e0 = e0.withColumn("bucket", bucket.cast("int"))
    # n_flip least-confident planes: sort (|dot|, plane idx) ascending
    flip_idx = F.slice(F.array_sort(F.transform(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        lambda i: F.struct(
            F.abs(F.element_at("dots", i + 1)).alias("m"),
            i.alias("i")))), 1, n_flip)
    # flipping bit i == bucket XOR 2^i (pow is exact for i < 31)
    probes = F.concat(
        F.array(F.col("bucket")),
        F.transform(flip_idx,
                    lambda s: F.col("bucket").bitwiseXOR(
                        F.pow(F.lit(2.0), s["i"]).cast("int"))))
    e0 = e0.withColumn("probes", probes).drop("dots")

    # cap WITHOUT the singleton exclusion _cap_buckets applies: a
    # 1-member bucket yields no pairs under same-bucket joins, but a
    # multi-probe query from ANOTHER bucket can legitimately find that
    # lone member — only the over-cap (O(n^2) hazard) buckets drop
    data = e0.select("id", "vd", "vnorm", "bucket")
    sized = (data.groupBy("bucket").agg(F.count("*").alias("sz"))
             .filter(F.col("sz") <= max_bucket))
    data = data.join(F.broadcast(sized.select("bucket")), "bucket")
    right = data.select(F.col("id").alias("nbr_id"),
                        F.col("vd").alias("vb"),
                        F.col("vnorm").alias("nnorm"), "bucket")
    left = (e0.select(F.col("id").alias("qid"),
                      F.col("vd").alias("va"),
                      F.col("vnorm").alias("qnorm"),
                      F.explode("probes").alias("bucket")))
    cand = left.join(right, "bucket").filter(F.col("qid") != F.col("nbr_id"))
    # cosine identical whichever probe proposed the pair -> max() dedups
    scored = (cand.withColumn("cosine", _carried_cosine())
              .groupBy("qid", "nbr_id")
              .agg(F.max("cosine").alias("cosine")))
    return _topk(scored, k)


def ivf_pq_topk(emb: DataFrame, n_centroids: int = 16, n_probe: int = 4,
                k: int = 5, m_sub: int = 8, n_codes: int = 16,
                rerank: int = 0,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """IVF-ADC approximate top-k with product quantization (Jegou,
    Douze, Schmid 2011, "Product Quantization for Nearest Neighbor
    Search", IEEE TPAMI) — the embedding-compression scale path: the
    candidate join ships ``m_sub`` small ints + one norm per data
    vector instead of the raw vector.

    Index layout: the coarse stage is the ``ivf_topk`` cell structure
    (``_centroid_array`` + ``_nearest_cells``: vectors live in their
    nearest cell, queries probe the ``n_probe`` nearest).  Within cells,
    each vector is encoded once: its ``m_sub`` equal subvectors each map
    to the nearest of ``n_codes`` codewords (codebook per subquantizer =
    the subvector slices of a per-subquantizer md5-seeded sample; L2
    argmin computed as ``||c||^2 - 2<x,c>`` with codeword-index
    tie-break, a NULL score — a degenerate codeword — ranking last).
    Queries carry an ADC lookup table — dot(q_m, codeword) for all
    m x j — so scoring a candidate is ``m_sub`` table lookups, never a
    full-dim dot: approx_cos = sum_m lut[m][code_m] / (|q| *
    |reconstruction|), through ``_cosine_arrow``.  A vector with no
    cosine of its own (zero or NULL norm) or a subvector that matched no
    codeword (a NULL element, a ragged length) has a NULL
    reconstruction norm, and a NULL lookup makes the sum NULL, so
    neither ever ranks.

    Scale shape: codebooks collapse to ONE broadcast row (m_sub x
    n_codes codewords); encoding and the per-query LUT are narrow
    per-row array expressions (zero shuffle); the only corpus-sized
    exchange is the candidate join on the cell id, and the DATA side of
    that join carries (id, cid, codes array<int>, pq_norm) — at 64-dim
    float32 that is ~20 bytes vs 256, an order of magnitude less
    shuffle than exact IVF re-rank.  Determinism: every float fold runs
    in fixed (dim, then m) order, the seeded samples and tie-breaks are
    md5/index-based, so the result is partition-invariant and has an
    exact DuckDB twin (gate entry ``pq_topk``).

    Output: (qid, nbr_id, rank, adc_cos) — adc_cos is the quantized
    approximation of the cosine (exact on the reconstructed vector).
    With ``rerank=R > 0`` (IVFADC+R, the paper's refinement stage) the
    ADC stage only PROPOSES the top-R shortlist per query; original
    vectors are re-fetched for those R rows alone (a shortlist-sized
    join, not a corpus shuffle) and the output is the exact-cosine
    re-ranked top-k: (qid, nbr_id, rank, cosine).  On near-orthogonal
    synthetic embeddings raw ADC ordering is noisy (codebooks are
    seeded samples, not trained), so rerank is the recommended mode;
    the recall test pins both.

    Requires len(vec) divisible by ``m_sub``.
    """
    e = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    vd = _as_double(F.col("v"))
    cent_arr = _centroid_array(emb, n_centroids, id_col, vec_col)

    # ---- product codebooks: one md5-seeded sample per subquantizer;
    # the m-th codebook is the m-th subvector slice of sample m.
    # ONE-PASS selection (was a 16-branch union, one TakeOrdered job +
    # scan + broadcast join PER subquantizer — measured ~2.5-4 s of this
    # query's wall time, over a third of it driver-side plan analysis of
    # the 16-way union): explode the (m, md5) keys per row, then
    # shard-and-merge top-n_codes per m — per-(m, shard) top-k bounds
    # every aggregation state, the only corpus-sized exchange carries
    # (m, _k, kid) ~24-byte rows, and the merge input is
    # m_sub x n_shards x n_codes rows.  The shard key is derived from
    # the md5 itself (deterministic under retries, guide on synthetic
    # keys); the selected ids and their j ranks are IDENTICAL to the
    # per-m orderBy/limit form — top-k of a disjoint shard union is
    # top-k of the whole. ----
    d_sub = (F.size("vd") / m_sub).cast("int")
    n_shards = 32
    mk = (emb.select(F.col(id_col).alias("kid"))
          .select("kid", F.explode(F.array(*[
              F.struct(
                  F.lit(m).alias("m"),
                  F.md5(F.concat(F.lit(f"pq{m}:"),
                                 F.col("kid").cast("string"))).alias("_k"))
              for m in range(m_sub)])).alias("mk"))
          .select(F.col("mk.m").alias("m"), F.col("mk._k").alias("_k"),
                  "kid"))
    shard = F.pmod(F.conv(F.substring("_k", 1, 4), 16, 10).cast("int"),
                   F.lit(n_shards))
    part = (mk.groupBy("m", shard.alias("_s"))
            .agg(F.slice(F.array_sort(F.collect_list(
                F.struct("_k", "kid"))), 1, n_codes).alias("arr")))
    keys = (part.groupBy("m")
            .agg(F.slice(F.array_sort(F.flatten(F.collect_list("arr"))),
                         1, n_codes).alias("arr"))
            .select("m", F.posexplode("arr").alias("j0", "s"))
            .select("m", (F.col("j0") + 1).cast("int").alias("j"),
                    F.col("s.kid").alias("kid")))
    cbs = (emb.join(F.broadcast(keys), F.col(id_col) == F.col("kid"))
           .withColumn("vd", _as_double(F.col(vec_col)))
           .select("m", "j",
                   F.slice(F.col("vd"),
                           F.col("m") * (F.size("vd") / m_sub)
                           .cast("int") + 1,
                           (F.size("vd") / m_sub).cast("int"))
                   .alias("cw")))
    cbs = cbs.withColumn(
        "c2", F.aggregate(F.transform("cw", lambda x: x * x),
                          F.lit(0.0), lambda a, x: a + x))
    # sort the codebook ONCE in the single-row aggregate: every
    # consumer row used to array_sort the same 256-struct array itself
    # (2 branches x corpus rows x an interpreted struct sort)
    cb_arr = (cbs.agg(F.collect_list(F.struct("m", "j", "cw", "c2"))
                      .alias("cb"))
              .select(F.array_sort(F.col("cb")).alias("cb_s")))

    base = (e.join(F.broadcast(cent_arr)).join(F.broadcast(cb_arr))
            # cb_s is pre-sorted above: struct order (m, j, ...) is
            # unique, so position m*n_codes + j is deterministic and every
            # later lookup is a direct element_at — no per-entry filtering
            # (the filter-per-lookup first cut was O(M*K) per access)
            .withColumn("vd", vd)
            .withColumn("vnorm", _norm2(F.col("vd"))))

    def _guarded(vec):
        # a dimension not divisible by m_sub would silently drop the
        # trailing dims from every subvector — fail loudly per row
        # instead (the check folds to a no-op when sizes divide evenly).
        # Hoisted to ONE column ("vdg") per consumer frame: the old shape
        # rebuilt this guard inside every per-m slice, 16x per row of
        # pure plan-construction overhead (py4j round trips dominate the
        # bench's per-call cost — the whole query tree was measured at
        # ~3.4 s of driver-side Python before any job ran).  A NULL
        # vector passes (with ANSI off, size(NULL) is -1).
        return F.when(
            vec.isNotNull() & (F.size(vec) % m_sub != 0),
            F.raise_error(F.concat(
                F.lit("ivf_pq_topk: vector dim "),
                F.size(vec).cast("string"),
                F.lit(f" is not divisible by m_sub={m_sub}")))
        ).otherwise(vec)

    def _sub(m):
        return F.slice(F.col("vdg"), m * d_sub + 1, d_sub)

    # encode: per m, argmin_j of ||c||^2 - 2<x_m, c> via struct-min
    # (lexicographic (score, j) — deterministic tie-break; a NULL score
    # ranks last, +inf, exactly like a NULL cell cosine); the selected
    # struct carries j and ||c||^2 for the reconstruction norm.  ONE
    # transform-over-sequence expression instead of a python loop over
    # m (16x smaller tree, same per-row arithmetic in the same order —
    # the HOF lambda is per ROW, not per candidate pair, so interpreted
    # dispatch here is negligible).
    inf = F.lit(float("inf"))
    enc = F.transform(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        lambda m: F.array_min(F.transform(
            F.slice(F.col("cb_s"), m * n_codes + 1, n_codes),
            lambda t: F.struct(
                F.coalesce(t["c2"] - F.lit(2.0) * _dot(_sub(m), t["cw"]),
                           inf).alias("score"),
                t["j"].alias("j"), t["c2"].alias("c2")))))

    tagged = (base
              .withColumn("vdg", _guarded(F.col("vd")))
              .withColumn("cells", _nearest_cells(
                  F.col("vd"), F.col("vnorm"), F.col("cents"), n_probe))
              .withColumn("enc", enc))
    # NOTE: tagged feeds both sides of the candidate join and is
    # recomputed per branch by design — persisting it was MEASURED
    # SLOWER at sf0.1 (19.6 s vs 14.2 s: materializing the vector
    # column costs more than re-running the narrow folds); the drop of
    # the per-row codebook copy below keeps the recompute cheap
    tagged = tagged.select("id", "vd", "vnorm", "cells", "enc")

    # data side: cell + codes + reconstruction norm (m-ordered fold),
    # NULL when the vector has no cosine or a subvector matched no
    # codeword
    encoded = ((F.col("vnorm") > 0)
               & F.forall("enc", lambda s: s["score"] < inf))
    assign = tagged.select(
        F.col("id").alias("nbr_id"),
        F.element_at("cells", 1)["cid"].alias("cid"),
        F.transform("enc", lambda s: s["j"]).alias("codes"),
        F.when(encoded, F.sqrt(F.aggregate(
            F.transform("enc", lambda s: s["c2"]),
            F.lit(0.0), lambda a, x: a + x))).alias("pqn"))
    # query side: probe cells + FLAT ADC lookup table — lut[m*K + j] =
    # dot(q_m, codeword_{m,j}), built once per QUERY row (m_sub x
    # n_codes lookups into the unordered cb array), so scoring a
    # candidate pair is m_sub direct element_at's — O(M) per pair, not
    # O(M*K) struct filtering (the first cut cost exactly that and read
    # 47 s at sf0.1; this shape reads ~3 s)
    lut = F.transform(
        F.col("cb_s"), lambda t: F.aggregate(
            F.zip_with(F.element_at(F.col("subs"), t["m"] + 1), t["cw"],
                       lambda x, y: x * y),
            F.lit(0.0), lambda a, x: a + x))
    probes = (tagged.join(F.broadcast(cb_arr))
              .withColumn("vdg", _guarded(F.col("vd")))
              .withColumn("subs", F.transform(
                  F.sequence(F.lit(0), F.lit(m_sub - 1)), _sub))
              .withColumn("lut", lut)
              .select(F.col("id").alias("qid"),
                      F.col("vnorm").alias("qnorm"), "lut",
                      F.explode(F.transform("cells", lambda s: s["cid"]))
                      .alias("cid")))

    # Cells collapse to ONE member-array row each (``_member_arrays``,
    # which raises on a cell over ``_MAX_CELL``): the probe side
    # broadcast-joins n_centroids rows and scores a whole cell INSIDE its
    # row, exploding only the per-cell shortlist.  The first cut
    # materialized a (query x candidate) pair row carrying the 2 KB query
    # LUT — ~59M rows x 2 KB of row copies at sf0.1 (15 s); this shape
    # never fans out past the shortlist (measured ~4 s, at exact-IVF
    # parity).
    members = _member_arrays(assign, "ivf_pq_topk", "nbr_id", "codes", "pqn")

    # ADC scoring of whole cells runs in a vectorized Arrow kernel: the
    # per-member work (m_sub LUT gathers + a sort for the shortlist) was
    # the innermost loop of the whole query — measured as a 48 CPU-s
    # stage (~20 ms per query row) at sf0.1 as interpreted HOF lambdas.
    # numpy reproduces it bit-for-bit: the m-ordered gather sum is an
    # elementwise left fold from 0.0 (never np.sum, whose pairwise
    # blocking changes addition order), the divide is ``_cosine_arrow``,
    # and the (adc desc, nbr_id) shortlist order is a stable lexsort.
    r_short = max(rerank, k) if rerank else k
    id_dt = emb.schema[id_col].dataType.simpleString()

    def _score_batches(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        for rb in it:
            qid_a, qnorm_a, lut_a, mem_a = rb.columns
            flat = mem_a.flatten()
            p = pc.list_parent_indices(mem_a).to_numpy(zero_copy_only=False)
            nbr = flat.field("nbr_id")
            codes = np.asarray(flat.field("codes").flatten()).reshape(
                len(flat), m_sub)
            pqn_a = flat.field("pqn")
            lut_f = lut_a.flatten()
            lut = np.asarray(lut_f).reshape(len(lut_a), m_sub * n_codes)
            # m-ordered left fold of lut[m*K + codes[m]] (codes 1-based);
            # a NULL lookup, query norm or reconstruction norm -> NULL
            adot = np.zeros(len(flat), dtype=np.float64)
            null = (qnorm_a.is_null().to_numpy(zero_copy_only=False)[p]
                    | pqn_a.is_null().to_numpy(zero_copy_only=False))
            lut_null = (lut_f.is_null().to_numpy(zero_copy_only=False)
                        .reshape(lut.shape) if lut_f.null_count else None)
            for m in range(m_sub):
                at = m * n_codes + codes[:, m] - 1
                adot = adot + lut[p, at]
                if lut_null is not None:
                    null |= lut_null[p, at]
            adc = _cosine_arrow(
                adot, qnorm_a.to_numpy(zero_copy_only=False)[p],
                pqn_a.to_numpy(zero_copy_only=False), null)
            ql = qid_a.take(pa.array(p, type=pa.int64()))
            keep = np.flatnonzero(
                pc.and_(pc.not_equal(nbr, ql), adc.is_valid())
                .to_numpy(zero_copy_only=False))
            pk = p[keep]
            adck = adc.to_numpy(zero_copy_only=False)[keep]
            nbrk = nbr.take(pa.array(keep, type=pa.int64()))
            order = np.lexsort((nbrk.to_numpy(zero_copy_only=False),
                                -adck, pk))
            ps = pk[order]
            starts = np.concatenate(
                ([0], np.flatnonzero(np.diff(ps)) + 1))
            rank = (np.arange(len(order))
                    - np.repeat(starts, np.diff(
                        np.concatenate((starts, [len(order)])))))
            top = order[rank < r_short]
            yield pa.RecordBatch.from_arrays(
                [ql.take(pa.array(keep[top], type=pa.int64())),
                 nbrk.take(pa.array(top, type=pa.int64())),
                 pa.array(adck[top], type=pa.float64())],
                names=["qid", "nbr_id", "adc_cos"])

    scored = (probes.join(F.broadcast(members), "cid")
              .select("qid", "qnorm", "lut", "members")
              .mapInArrow(_score_batches,
                          schema=f"qid {id_dt}, nbr_id {id_dt}, "
                                 f"adc_cos double"))
    if not rerank:
        return _topk(scored, k, "adc_cos")
    # IVFADC+R: ADC proposes top-R, original vectors are fetched for the
    # shortlist only (queries x R rows — never a corpus-wide vector
    # shuffle), exact cosine disposes
    short = _topk(scored, r_short, "adc_cos").select("qid", "nbr_id")
    nbrs = (e.withColumn("vb", vd)
            .select(F.col("id").alias("nbr_id"), "vb",
                    _norm2(F.col("vb")).alias("nnorm")))
    qs = (e.withColumn("va", vd)
          .select(F.col("id").alias("qid"), "va"))
    ex = (short.join(qs, "qid").join(nbrs, "nbr_id")
          .withColumn("cosine", _cosine(_dot(F.col("va"), F.col("vb")),
                                        _norm2(F.col("va")),
                                        F.col("nnorm"))))
    return _topk(ex, k)


def margin_pairs(emb_a: DataFrame, emb_b: DataFrame, k: int = 4,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Margin-based aligned-pair mining between two embedding sets
    (Artetxe & Schwenk 2019, "Margin-based Parallel Corpus Mining with
    Multilingual Sentence Embeddings", ACL — the ratio-margin
    criterion): score each forward top-k candidate pair by
    cos(a, b) / ((pen_a + pen_b) / 2), where pen_x is the mean cosine
    of x's k nearest neighbors on the OTHER side, and keep the pairs
    that are mutual margin-best.  The margin normalizes away hubness —
    a vector that is close to everything earns a high penalty and must
    beat it to align.

    Composition: the neighbor scans ARE ``brute_force_topk`` (one
    broadcast-side pass each way; swap in ``lsh_topk_multiprobe``/
    ``ivf_pq_topk`` candidates upstream for corpus-scale sides), so
    cosines enter the margin already round-6 — the penalty means fold
    those k values in RANK order (deterministic), and ties in margin
    break on the partner id.  The margin divide is a ``try_divide``: a
    zero penalty sum gives a NULL margin, which never pairs (a
    degenerate vector has no neighbors, so it never reaches this stage).
    Output: (a_id, b_id, cosine, margin), mutual-best pairs only.

    Scale shape: two top-k scans + three key joins on id-sized frames
    (pa/pb are one row per vector, broadcast-able); the pair frame
    entering the margin stage is k rows per A vector, never |A| x |B|.
    """
    qa = emb_a.select(F.col(id_col).alias("qid"),
                      F.col(vec_col).alias("qvec"))
    qb = emb_b.select(F.col(id_col).alias("qid"),
                      F.col(vec_col).alias("qvec"))
    fwd = brute_force_topk(emb_b, qa, k=k, id_col=id_col, vec_col=vec_col)
    bwd = brute_force_topk(emb_a, qb, k=k, id_col=id_col, vec_col=vec_col)

    def penalty(df):
        arr = F.array_sort(F.collect_list(F.struct("rank", "cosine")))
        out = df.groupBy("qid").agg(arr.alias("arr"))
        tot = F.aggregate(F.transform("arr", lambda s: s["cosine"]),
                          F.lit(0.0), lambda a, x: a + x)
        return out.select("qid", (tot / F.size("arr")).alias("pen"))

    pa = penalty(fwd).select(F.col("qid").alias("a_id"),
                             F.col("pen").alias("pen_a"))
    pb = penalty(bwd).select(F.col("qid").alias("b_id"),
                             F.col("pen").alias("pen_b"))
    scored = (fwd.select(F.col("qid").alias("a_id"),
                         F.col("nbr_id").alias("b_id"), "cosine")
              .join(pa, "a_id").join(pb, "b_id")
              .withColumn("margin", F.try_divide(
                  F.col("cosine"), (F.col("pen_a") + F.col("pen_b")) / 2))
              .filter(F.col("margin").isNotNull()))
    wa = Window.partitionBy("a_id").orderBy(F.desc("margin"),
                                            F.asc("b_id"))
    wb = Window.partitionBy("b_id").orderBy(F.desc("margin"),
                                            F.asc("a_id"))
    best = (scored.withColumn("ra", F.row_number().over(wa))
            .withColumn("rb", F.row_number().over(wb))
            .filter((F.col("ra") == 1) & (F.col("rb") == 1)))
    return best.select("a_id", "b_id", "cosine",
                       F.round("margin", 6).alias("margin"))
