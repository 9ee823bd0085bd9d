"""Keyword search over the corpus: inverted postings + conjunctive /
disjunctive term lookup.

The retrieval counterpart to the similarity module: exact term search for
corpus forensics ("which documents mention X and Y") and the
inverted-index build a downstream serving system ingests.

Scale shapes:
  * the token table is the same distinct (id, token) frame dedup uses —
    one explode + distinct;
  * ``keyword_search`` filters that table to the query terms FIRST (a
    narrow `isin` over a literal list — predicate-pushdown friendly), so
    the aggregate only ever sees rows matching the query: cost scales
    with posting sizes, not corpus size;
  * ``inverted_postings`` caps posting lists via ``min_df``/``max_df``
    (vocabulary pruning): stopword postings are corpus-sized and nobody
    serves them — the cap keeps every `collect_list` buffer bounded, and
    dropped tokens are countable via the returned `df` column of a
    no-cap run at a smaller sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import tokens


def keyword_search(df: DataFrame, terms: list[str], mode: str = "and",
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Docs matching the query terms (normalized-token equality).
    Output: (id, n_matched) — ``mode='and'`` keeps docs containing ALL
    terms, ``'or'`` any term.  Deterministic, oracle-exact."""
    if mode not in ("and", "or"):
        raise ValueError(f"keyword_search: unknown mode {mode!r}")
    want = sorted({t.lower() for t in terms})
    if not want:
        raise ValueError("keyword_search: empty term list")
    bad = [t for t in want if (not t) or any(ch.isspace() for ch in t)]
    if bad:
        # a multi-word/blank "term" can never equal a single normalized
        # token — silently returning zero hits would read as "no documents
        # mention X" when the query was untokenizable
        raise ValueError(
            f"keyword_search: terms must be single tokens, got {bad!r} "
            "(split multi-word queries into terms; use mode='and')")
    toks = tokens(df, id_col=id_col, text_col=text_col)
    hits = (toks.filter(F.col("token").isin(want))
            .groupBy("id")
            .agg(F.count_distinct("token").alias("n_matched")))
    if mode == "and":
        hits = hits.filter(F.col("n_matched") == len(want))
    return hits


def inverted_postings(df: DataFrame, min_df: int = 1,
                      max_df: int = 10_000,
                      id_col: str = "doc_id",
                      text_col: str = "text",
                      persist_intermediate: bool = True) -> DataFrame:
    """Inverted index rows: (token, df, postings array<id> sorted asc) for
    tokens appearing in [min_df, max_df] documents.  The df filter runs on
    the counted aggregate BEFORE list collection (two-phase: count, prune,
    then collect only surviving tokens), so no stopword ever materializes
    a corpus-sized posting array.

    Plan notes: the pruned (token, df) frame is deliberately NOT
    broadcast-hinted — on a Zipfian corpus the [min_df, max_df] band is
    the long TAIL of the vocabulary (most distinct tokens), far beyond
    broadcast size; AQE still auto-broadcasts it when it is genuinely
    small.  The token table feeds both the count aggregate and the
    posting join, so it is persisted (``persist_intermediate``; release
    via ``datapipe.cache.release_cached(result)``) rather than
    tokenizing the corpus twice."""
    toks = tokens(df, id_col=id_col, text_col=text_col)
    cached = []
    if persist_intermediate:
        from pyspark import StorageLevel
        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
        cached = [toks]
    counted = (toks.groupBy("token")
               .agg(F.count("*").alias("df"))
               .filter((F.col("df") >= min_df) & (F.col("df") <= max_df)))
    out = (toks.join(counted, "token")
           .groupBy("token", "df")
           .agg(F.sort_array(F.collect_list("id")).alias("postings"))
           .select("token", "df", "postings"))
    from .cache import attach_cached_deps
    return attach_cached_deps(out, *cached)


def bm25_search(df: DataFrame, terms: list[str], k: int = 20,
                k1: float = 1.2, b: float = 0.75,
                id_col: str = "doc_id", text_col: str = "text",
                broadcast_postings: bool = True) -> DataFrame:
    """Ranked retrieval: top-``k`` docs by BM25 over the query ``terms``.
    Output: (id, n_matched, score) — score rounded to 6, ties broken by id.

    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))   (never negative)
    tfn(t, d) = tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))

    Scale shape: the token explode is filtered to the query terms BEFORE
    any aggregation, so every shuffle is posting-list-sized, not
    corpus-sized.  Document length (dl = non-distinct token count, same
    tokenizer) is a NARROW per-row expression on the text — the corpus
    side never shuffles: the small posting frame broadcasts into the dl
    join (set ``broadcast_postings=False`` for pathologically unselective
    queries and AQE plans the join instead).  avgdl averages integer
    lengths (exact at any partial-sum order); the per-term score parts
    accumulate in DECIMAL so the final score is partition-invariant.
    """
    from .dedup import _norm
    want = sorted({t.lower() for t in terms})
    if not want:
        raise ValueError("bm25_search: empty term list")
    from .terms import doc_token_counts
    post = doc_token_counts(df, id_col, text_col) \
        .filter(F.col("token").isin(want))
    # post feeds BOTH the df aggregate and the scoring join; it is
    # posting-list sized, so persist it rather than exploding the corpus
    # twice (plan-audited: without this the tokenize chain ran 2x)
    from pyspark import StorageLevel
    post = post.persist(StorageLevel.MEMORY_AND_DISK)
    dfreq = post.groupBy("token").agg(F.count("*").alias("df"))

    dl_expr = F.size(F.filter(F.split(_norm(F.col(text_col)), " "),
                              lambda x: x != ""))
    dl = df.select(F.col(id_col).alias("id"), dl_expr.alias("dl"))
    stats = dl.agg(F.count("*").alias("_n"),
                   (F.sum("dl").cast("double") / F.count("*"))
                   .alias("_avgdl"))

    scored = post.join(F.broadcast(dfreq), "token") \
                 .crossJoin(F.broadcast(stats))
    scored = (dl.join(F.broadcast(scored), "id")
              if broadcast_postings else dl.join(scored, "id"))
    idf = F.log(1.0 + (F.col("_n") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tfn = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("_avgdl")))
    part = (idf * tfn).cast("decimal(20,8)")
    out = (scored.groupBy("id")
           .agg(F.count("*").alias("n_matched"),
                F.round(F.sum(part).cast("double"), 6).alias("score"))
           .orderBy(F.desc("score"), F.asc("id"))
           .limit(k))
    from .cache import attach_cached_deps
    return attach_cached_deps(out, post)


def keyword_snippets(df: DataFrame, term: str, window: int = 5,
                     max_per_doc: int = 3, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Keyword-in-context snippets: for every occurrence of ``term`` (as a
    normalized token), the surrounding ±``window`` tokens — the result
    renderer for corpus forensics ("show me how X is used"), capped at
    ``max_per_doc`` snippets per document in token order.

    Output: (id, hit_pos int, snippet string).

    Scale shape: pure narrow expressions — the token array, the matching
    positions, and the slices are all computed per row; the per-doc cap is
    an array slice, not a window function; zero shuffle."""
    from .dedup import _norm
    t = term.lower()
    words = F.filter(F.split(_norm(F.col(text_col)), " "),
                     lambda x: x != "")
    hits = F.slice(
        F.filter(
            F.transform(words, lambda w, i: F.when(w == t, i + 1)
                        .otherwise(F.lit(None))),
            lambda p: p.isNotNull()),
        1, max_per_doc)
    n = F.size(words)
    snips = F.transform(
        hits,
        lambda p: F.struct(
            (p - 1).cast("int").alias("hit_pos"),
            F.concat_ws(
                " ",
                F.slice(words,
                        F.greatest(p - window, F.lit(1)),
                        F.least(p + window, n)
                        - F.greatest(p - window, F.lit(1)) + 1))
            .alias("snippet")))
    return (df.select(F.col(id_col).alias("id"),
                      F.explode(snips).alias("s"))
            .select("id", F.col("s.hit_pos").alias("hit_pos"),
                    F.col("s.snippet").alias("snippet")))


def hybrid_search_rrf(docs: DataFrame, emb: DataFrame, terms: list[str],
                      query_vec_id, k: int = 10, k_each: int = 50,
                      k_rrf: int = 60, id_col: str = "doc_id",
                      vec_id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      text_col: str = "text") -> DataFrame:
    """Hybrid retrieval by Reciprocal Rank Fusion (Cormack et al. 2009):
    fuse the BM25 lexical ranking for ``terms`` with the cosine semantic
    ranking around ``query_vec_id``'s embedding —
    rrf(d) = sum over lists of 1/(k_rrf + rank_d), a missing list
    contributes 0.  RRF needs no score calibration between the two
    systems, which is why it is the standard first fusion.

    Output: (id, lex_rank, sem_rank, rrf) — top-``k`` by (rrf desc, id).

    Scale shape: each branch reduces to <= ``k_each`` rows BEFORE
    fusion (BM25's posting-sized shuffles; the semantic side is the
    broadcast-query corpus scan of ``brute_force_topk`` — swap in
    ``lsh_topk_multiprobe`` for a bucketed corpus-side at extreme
    scale); the fusion join and the final rank run on <= 2*k_each rows,
    so the single-partition windows here are k_each-sized by
    construction, never corpus-sized.  Determinism: ranks are integers; each rrf is a
    fixed-order sum of two exact divisions — identical cross-engine;
    final round(6)."""
    from pyspark.sql import Window

    from .similarity import brute_force_topk

    lex = bm25_search(docs, terms, k=k_each, id_col=id_col,
                      text_col=text_col)
    wl = Window.orderBy(F.desc("score"), F.asc("id"))
    lex_r = lex.select("id", F.row_number().over(wl).alias("lex_rank"))

    q = (emb.filter(F.col(vec_id_col) == query_vec_id)
         .select(F.col(vec_id_col).alias("qid"),
                 F.col(vec_col).alias("qvec")))
    sem = brute_force_topk(emb, q, k=k_each, id_col=vec_id_col,
                           vec_col=vec_col)
    sem_r = sem.select(F.col("nbr_id").alias("id"),
                       F.col("rank").alias("sem_rank"))

    rrf = (F.coalesce(1.0 / (F.lit(k_rrf) + F.col("lex_rank")), F.lit(0.0))
           + F.coalesce(1.0 / (F.lit(k_rrf) + F.col("sem_rank")),
                        F.lit(0.0)))
    return (lex_r.join(sem_r, "id", "full_outer")
            .select("id", F.col("lex_rank").cast("int").alias("lex_rank"),
                    F.col("sem_rank").cast("int").alias("sem_rank"),
                    F.round(rrf, 6).alias("rrf"))
            .orderBy(F.desc("rrf"), F.asc("id")).limit(k))
