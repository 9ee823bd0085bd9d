"""Driver-contract queries: one entry per SURVEY §2 operator, each with an
exact DuckDB oracle (see ``__spark_entry__.py``).

Every Spark query here is built from the engine's operator modules (or the
same primitives they use) and demonstrated on the driver's TPC-H-ish tables
at /root/testdata.  Column names are aliased identically on both sides —
the driver compares sorted-by-name value hashes.  Floats are rounded to 6
decimals on BOTH sides before comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .datapipe.dedup import (exact_duplicates, jaccard_pairs,
                             minhash_candidate_pairs, minhash_signatures,
                             simhash)
from .datapipe.similarity import brute_force_topk
from .datapipe.textstats import (STOPWORDS, bpe_ish_token_count_col,
                                 lang_id, quality_features, token_count_col)
from .extraction import spec
from .functions.normalize import normalize_ocr_digits_col
from .operators.chunking import chunk_within
from .operators.registry import synth_entity_id_col
from .operators.vote import majority_vote, normalize_for_vote_col


# Test knob: when set, every load() repartitions to exactly this many
# partitions, regardless of ``lift`` — the determinism suite runs each
# float-emitting gate query at several partition counts and asserts
# identical output (tests/test_determinism.py).
LOAD_REPARTITION: int | None = None


def load(spark: SparkSession, sf_dir: str, name: str,
         lift: bool = False) -> DataFrame:
    # Pin the session timezone on whatever session the DRIVER hands us:
    # unix_timestamp()/date_trunc() over the NTZ test tables shift every
    # epoch by the session offset, so a driver environment with a non-UTC
    # default would redden every time-bucketing query at once while the
    # DuckDB oracles (TZ-naive epoch()) stay put.  Runtime-settable conf;
    # captured at expression analysis, so setting it before constructing
    # the plan suffices.  tests/test_tz_independence.py proves the gate
    # queries are byte-identical under America/New_York.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # ANSI on (Spark 4's default) for the same reason: the gate's outputs
    # are certified under it, whatever session the caller passes in
    spark.conf.set("spark.sql.ansi.enabled", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if LOAD_REPARTITION:
        return df.repartition(LOAD_REPARTITION)
    if lift:
        # Small single-row-group gate files plan as ONE split — lift them
        # to cluster parallelism so narrow compute stages aren't
        # single-threaded (no-op whenever the input already has enough
        # splits).  Opt-in per query: only the compute-dense narrow
        # pipelines (documents/embeddings per-row kernels) benefit; a query
        # whose first operator is already a wide exchange gains nothing
        # and would pay the round-robin shuffle for free (r4 finding).
        from .sources.readers import ensure_min_partitions
        df = ensure_min_partitions(df)
    return df


# ---------------------------------------------------------------------------
# Order-invariant float aggregation.
#
# sum/avg over DOUBLE is partial-sum-order dependent, and the driver hashes
# round()ed values — a repartition can flip a rounding boundary (the r4
# time_rollup failure).  Every gate aggregate of a double therefore casts
# per-row to DECIMAL(18,6) first: the cast is deterministic (no double is an
# exact midpoint at 6 decimals — 1e-7 is not a dyadic rational), decimal
# addition is associative (partition count and partial-sum order cannot
# change the result), and the final round + cast back to double keeps the
# gate schema stable.  Each oracle mirrors the same shape:
#   round(sum(CAST(x AS DECIMAL(18,6))), s)::DOUBLE
# ---------------------------------------------------------------------------

def dsum(col, scale: int = 4):
    """Order-invariant sum of a double column (see block comment above)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast("decimal(18,6)")), scale).cast("double")


def davg(col, scale: int = 6):
    """Order-invariant mean of a double column: exact decimal sum, then ONE
    double division + round (deterministic on identical inputs)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(
        F.sum(c.cast("decimal(18,6)")).cast("double") / F.count(c), scale)


def _duck_cosine(a: str, b: str) -> str:
    """DuckDB twin of ``datapipe.similarity._cosine``: NULL for a NULL,
    ragged or zero-norm pair, where ``list_cosine_similarity`` raises or
    returns -1.  A NULL cosine never ranks and never passes a threshold,
    so every oracle ranks it out before its top-k, as ``_topk`` does.
    The norms sit in a second WHEN: DuckDB 1.0's list products can raise
    on a NULL list in a filtered vector unless a CASE skips the row."""
    return (f"CASE WHEN {a} IS NULL OR {b} IS NULL OR len({a}) <> len({b}) "
            f"THEN NULL WHEN sqrt(list_dot_product({a}, {a})) "
            f"* sqrt(list_dot_product({b}, {b})) = 0 THEN NULL "
            f"ELSE list_cosine_similarity({a}, {b}) END")


# ---------------------------------------------------------------------------
# Flagship: main-content extraction over sentence spans derived from the
# driver `documents` table (classification + ordering are the engine's M1/W8
# path; fully SQL-expressible here because derived spans carry no bbox/media,
# so the oracle is exact).
# ---------------------------------------------------------------------------

def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``extract`` (the Arrow kernel, the engine's one keep classifier)
    over the documents split into sentence spans, flattened to
    (doc_id, ord, span_text); doc_id is a string for the kernel and is
    cast back to the table's type."""
    from .plans.extract import extract
    docs = load(spark, sf_dir, "documents", lift=True)
    out = extract(docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                              _sentence_spans(F.col("text")).alias("spans")))
    return out.select(
        F.col("doc_id").cast(docs.schema["doc_id"].dataType).alias("doc_id"),
        F.inline("spans")).select("doc_id", F.col("order").alias("ord"),
                                  F.col("text").alias("span_text"))


def oracle_extract_text() -> str:
    nav = spec.NAV_RE
    return f"""
WITH sp AS (
  SELECT doc_id, i - 1 AS off,
         trim(regexp_replace(parts[i], '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS text
  FROM (SELECT doc_id, string_split_regex(text, '\\. ') AS parts
        FROM documents) d,
       LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
), kept AS (
  SELECT * FROM sp
  WHERE text <> ''
    AND NOT regexp_matches(lower(text), '{nav}')
    AND (length(text) - length(replace(text, '|', '')))
        <= {spec.PIPE_RATIO} * len(string_split(text, ' '))
    AND (len(string_split(text, ' ')) >= {spec.MIN_WORDS}
         OR substr(text, length(text), 1) IN ('.', '!', '?'))
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off) - 1
            AS INTEGER) AS ord,
       text AS span_text
FROM kept
"""


# ---------------------------------------------------------------------------
# Relational operator demonstrations
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """A1/A3: hash aggregate with map-side combine (TPC-H Q1 shape)."""
    li = load(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(dsum("l_quantity").alias("sum_qty"),
                 dsum("l_extendedprice").alias("sum_price"),
                 davg("l_discount").alias("avg_disc"),
                 F.count("*").alias("count_order")))


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 4) AS DOUBLE)
         AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 4) AS DOUBLE)
         AS sum_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
             / count(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_order_per_cust(spark, sf_dir):
    """W4: top-1-per-key window (vote winner shape, voting.py:79)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                                F.asc("o_orderkey"))
    return (o.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_custkey", "o_orderkey",
                    F.round("o_totalprice", 4).alias("top_price")))


ORACLE_TOP_ORDER = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS top_price
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
WHERE rn = 1
"""


def q_dim_join_rollup(spark, sf_dir):
    """J4: broadcast dimension joins (page-image lookup shape)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.count("*").alias("n_orders"),
                 dsum("o_totalprice").alias("revenue")))


ORACLE_DIM_JOIN = """
SELECT r_name, count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 4) AS DOUBLE)
         AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_semi_join(spark, sf_dir):
    """J6: membership semi-join (page filters P3/P4)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_customers")))


ORACLE_SEMI = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer WHERE EXISTS
  (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def q_anti_join(spark, sf_dir):
    """J7: anti-join — the resume/already-processed exclusion backbone."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


ORACLE_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_upsert_merge(spark, sf_dir):
    """J1: merge-by-key, update wins (state.py:795-822 whole-row replace)."""
    o = load(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 3 != 0) \
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
    upd = (o.filter(F.col("o_orderkey") % 2 == 0)
           .select("o_orderkey",
                   F.lit("U").alias("u_status"),
                   (F.col("o_totalprice") + 1000).alias("u_price"),
                   F.lit(True).alias("u_hit")))
    m = base.join(upd, "o_orderkey", "full_outer")
    hit = F.col("u_hit").isNotNull()
    return m.select(
        "o_orderkey",
        F.when(hit, F.col("u_status")).otherwise(F.col("o_orderstatus"))
         .alias("status"),
        F.round(F.when(hit, F.col("u_price")).otherwise(F.col("o_totalprice")),
                4).alias("price"))


ORACLE_UPSERT = """
WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
              WHERE o_orderkey % 3 <> 0),
upd AS (SELECT o_orderkey, 'U' AS u_status, o_totalprice + 1000 AS u_price,
               TRUE AS u_hit FROM orders WHERE o_orderkey % 2 = 0)
SELECT coalesce(base.o_orderkey, upd.o_orderkey) AS o_orderkey,
       CASE WHEN u_hit IS NOT NULL THEN u_status ELSE o_orderstatus END AS status,
       round(CASE WHEN u_hit IS NOT NULL THEN u_price ELSE o_totalprice END, 4)
         AS price
FROM base FULL OUTER JOIN upd USING (o_orderkey)
"""


def q_apply_results(spark, sf_dir):
    """J2+P6: left-join results with default-to-error (reader.py:310-313)."""
    li = load(spark, sf_dir, "lineitem")
    res = (load(spark, sf_dir, "orders")
           .filter(F.col("o_orderkey") % 2 == 0)
           .select("o_orderkey", F.col("o_orderstatus").alias("r_status")))
    return (li.join(res, li.l_orderkey == res.o_orderkey, "left")
            .select("l_orderkey", "l_linenumber",
                    F.coalesce(F.col("r_status"), F.lit("error"))
                     .alias("status")))


ORACLE_APPLY = """
SELECT l_orderkey, l_linenumber,
       coalesce(r.o_orderstatus, 'error') AS status
FROM lineitem LEFT JOIN
  (SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0) r
  ON l_orderkey = r.o_orderkey
"""


def q_chunking(spark, sf_dir):
    """W1/W3: deterministic chunk + 1-based task numbering
    (reader.py:300-308, ocr_client.py:232)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    out = chunk_within(li, ["l_orderkey"], "l_linenumber", 3)
    return out.select("l_orderkey", "l_linenumber", "chunk_id", "task_num")


ORACLE_CHUNKING = """
SELECT l_orderkey, l_linenumber,
       CAST(floor((rn - 1) / 3) AS INTEGER) AS chunk_id,
       CAST((rn - 1) % 3 + 1 AS INTEGER) AS task_num
FROM (SELECT l_orderkey, l_linenumber,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber) AS rn
      FROM lineitem)
"""


def q_vote(spark, sf_dir):
    """A2: the flagship majority-vote aggregate on the events table —
    entity = user, axis = event_id, 'error' events don't vote."""
    ev = load(spark, sf_dir, "events")
    samples = ev.select(
        F.col("user_id").alias("entity_id"),
        F.col("event_id").cast("int").alias("axis_idx"),
        F.col("event_type").alias("value"),
        F.col("props").alias("context"),
        F.when(F.col("event_type") == "error", "error").otherwise("ok")
         .alias("status"))
    return majority_vote(samples).withColumnRenamed("entity_id", "user_id")


ORACLE_VOTE = """
WITH s AS (
  SELECT user_id, CAST(event_id AS INTEGER) AS axis_idx,
         event_type AS value, props AS context,
         CASE WHEN event_type = 'error' THEN 'error' ELSE 'ok' END AS status
  FROM events
), tot AS (
  SELECT user_id, count(*) AS n_total,
         count(*) FILTER (WHERE status IN ('ok','no_data')) AS n_valid
  FROM s GROUP BY user_id
), valid AS (
  SELECT *, CASE WHEN value IS NULL
                   OR trim(regexp_replace(value, '\\s+', ' ', 'g')) = ''
            THEN '__NO_DATA__'
            ELSE lower(trim(regexp_replace(value, '\\s+', ' ', 'g')))
            END AS norm
  FROM s WHERE status IN ('ok','no_data')
), grp AS (
  SELECT user_id, norm, count(*) AS votes, min(axis_idx) AS first_pos,
         min_by(value, axis_idx) AS f_value,
         min_by(context, axis_idx) AS f_context
  FROM valid GROUP BY user_id, norm
), win AS (
  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY votes DESC, first_pos ASC) AS rn FROM grp)
  WHERE rn = 1
)
SELECT t.user_id,
  CASE WHEN w.votes IS NULL OR w.norm = '__NO_DATA__' THEN ''
       ELSE trim(coalesce(w.f_value, '')) END AS value,
  CASE WHEN w.votes IS NULL THEN NULL ELSE w.f_context END AS context,
  CASE WHEN w.votes IS NULL THEN '0/' || CAST(t.n_total AS VARCHAR)
       ELSE CAST(w.votes AS VARCHAR) || '/' || CAST(t.n_valid AS VARCHAR)
       END AS confidence,
  (w.votes IS NOT NULL AND w.votes = t.n_valid AND t.n_valid = t.n_total)
    AS verified
FROM tot t LEFT JOIN win w USING (user_id)
"""


def q_entity_id(spark, sf_dir):
    """F4: entity-id synthesis scan_{page}_{sha256(prompt)[:8]}."""
    d = load(spark, sf_dir, "documents", lift=True)
    return (d.withColumn("page_num", (F.col("doc_id") % 50 + 1).cast("int"))
            .withColumn("prompt", F.col("text"))
            .select("doc_id", synth_entity_id_col().alias("entity_id")))


ORACLE_ENTITY_ID = """
SELECT doc_id,
       'scan_' || CAST(doc_id % 50 + 1 AS VARCHAR) || '_' ||
       substr(sha256(text), 1, 8) AS entity_id
FROM documents
"""


def q_normalize_vote(spark, sf_dir):
    """F7: vote normalization over document text."""
    d = load(spark, sf_dir, "documents", lift=True)
    return d.select("doc_id",
                    normalize_for_vote_col(F.col("text")).alias("norm"))


ORACLE_NORMALIZE = """
SELECT doc_id,
       CASE WHEN text IS NULL
              OR trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) = ''
            THEN '__NO_DATA__'
            ELSE lower(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')))
            END AS norm
FROM documents
"""


def q_digit_norm(spark, sf_dir):
    """F8: OCR digit normalization O/o->0 l/I->1 S->5 B->8 + digit strip."""
    ev = load(spark, sf_dir, "events")
    raw = F.concat(F.lit("Id-"), F.col("props"), F.lit("-OlS"),
                   F.col("user_id").cast("string"))
    return ev.select("event_id",
                     normalize_ocr_digits_col(raw).alias("digits"))


ORACLE_DIGIT_NORM = """
SELECT event_id,
       NULLIF(regexp_replace(translate('Id-' || props || '-OlS' ||
                                       CAST(user_id AS VARCHAR),
                                       'OolISB', '001158'),
                             '[^0-9]', '', 'g'), '') AS digits
FROM events
"""


def q_ordered_concat(spark, sf_dir):
    """A4/F13: order-sensitive concat via sort_array(collect_list(struct))."""
    p = load(spark, sf_dir, "part")
    return (p.groupBy("p_brand")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("p_partkey", "p_name"))),
                    lambda x: x["p_name"]),
                "\n\n").alias("names")))


ORACLE_ORDERED_CONCAT = """
SELECT p_brand, string_agg(p_name, chr(10) || chr(10) ORDER BY p_partkey)
       AS names
FROM part GROUP BY p_brand
"""


def q_union_dedupe(spark, sf_dir):
    """U3/P10/W7: explode(sequence) + union + distinct (CLI page ranges)."""
    li = load(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_linenumber").cast("int").alias("page"))
    b = load(spark, sf_dir, "region").select(
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("page"))
    return a.unionByName(b).distinct()


ORACLE_UNION = """
SELECT DISTINCT page FROM (
  SELECT CAST(l_linenumber AS INTEGER) AS page FROM lineitem
  UNION ALL
  SELECT CAST(unnest(generate_series(1, 7)) AS INTEGER) AS page
  FROM region)
"""


def q_status_counts(spark, sf_dir):
    """A3: status counting."""
    return (load(spark, sf_dir, "events")
            .groupBy("event_type").agg(F.count("*").alias("n")))


ORACLE_STATUS = "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"


def q_distinct_users(spark, sf_dir):
    """A7: distinct counting per group."""
    return (load(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n_users")))


ORACLE_DISTINCT = ("SELECT event_type, count(DISTINCT user_id) AS n_users "
                   "FROM events GROUP BY event_type")


def q_count_if(spark, sf_dir):
    """A5/A6: conditional counting (unanimity tally shape)."""
    return (load(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.count_if(F.col("value") > 100).alias("n_big"),
                 F.count_if(F.col("value") <= 100).alias("n_small")))


ORACLE_COUNT_IF = """
SELECT event_type,
       count(*) FILTER (WHERE value > 100) AS n_big,
       count(*) FILTER (WHERE value <= 100) AS n_small
FROM events GROUP BY event_type
"""


def q_first_per_key(spark, sf_dir):
    """W5: min_by earliest-sample selection (voting.py:83-85)."""
    return (load(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.min_by("event_type", "event_id").alias("first_type"),
                 F.min("event_id").alias("first_event")))


ORACLE_FIRST = """
SELECT user_id, min_by(event_type, event_id) AS first_type,
       min(event_id) AS first_event
FROM events GROUP BY user_id
"""


def q_json_extract(spark, sf_dir):
    """F2-shape: JSON field parse from the props column."""
    return (load(spark, sf_dir, "events")
            .select("event_id",
                    F.get_json_object("props", "$.k").cast("int").alias("k")))


ORACLE_JSON = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
"""


def q_page_normalize(spark, sf_dir):
    """P1: range-check + dedupe + sort of requested pages."""
    li = load(spark, sf_dir, "lineitem")
    return (li.select(F.col("l_linenumber").cast("int").alias("page"))
            .filter(F.col("page").between(1, 5))
            .distinct())


ORACLE_PAGE_NORM = """
SELECT DISTINCT CAST(l_linenumber AS INTEGER) AS page
FROM lineitem WHERE l_linenumber BETWEEN 1 AND 5
"""


# ---------------------------------------------------------------------------
# Training-data ops
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    d = load(spark, sf_dir, "documents", lift=True)
    return exact_duplicates(d)


ORACLE_DEDUP_EXACT = """
SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS digest,
       min(doc_id) AS canonical_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""


def q_jaccard(spark, sf_dir):
    d = load(spark, sf_dir, "documents", lift=True).filter(F.col("doc_id") < 20)
    return (jaccard_pairs(d, k=1)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


# distinct-token CTE body (dedup.tokens' DuckDB twin) with a parameterized
# doc filter — ONE definition shared by every token-based oracle, so a
# tokenization tweak cannot silently diverge a subset of the gate
_DUCK_TOKENS_WHERE = """
  SELECT DISTINCT doc_id AS id, t AS token FROM (
    SELECT doc_id,
           unnest(string_split(lower(regexp_replace(trim(text), '\\s+', ' ',
                                                    'g')), ' ')) AS t
    FROM documents WHERE {where}) WHERE t <> ''
"""

ORACLE_JACCARD = f"""
WITH toks AS ({_DUCK_TOKENS_WHERE.format(where='doc_id < 20')}
), sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
"""


# 3-gram shingles with parameterized alias/source/filter (dedup.shingles'
# DuckDB twin); _DUCK_SHINGLES3 is the common doc_id < lim instantiation.
# {src} lets the merge_shards oracle shingle a derived CTE instead of the
# raw documents table.
_DUCK_SHINGLES3_WHERE = """
  SELECT DISTINCT doc_id AS {alias},
         array_to_string(words[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id,
               string_split(lower(regexp_replace(trim(text), '\\s+', ' ',
                                                 'g')), ' ') AS words
        FROM {src} WHERE {where}) d,
       LATERAL (SELECT unnest(generate_series(1,
                CASE WHEN len(words) >= 3 THEN len(words) - 2 ELSE 1 END))
                AS i) g
"""
_DUCK_SHINGLES3 = _DUCK_SHINGLES3_WHERE.format(alias="id", src="documents",
                                               where="doc_id < {lim}")


def q_minhash_sig(spark, sf_dir):
    d = load(spark, sf_dir, "documents", lift=True).filter(F.col("doc_id") < 20)
    return minhash_signatures(d, n_hashes=8, k=3)


ORACLE_MINHASH_SIG = f"""
WITH toks AS ({_DUCK_SHINGLES3.format(lim=20)})
SELECT id, CAST(seed AS INTEGER) AS seed,
       min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
FROM toks, (SELECT unnest(generate_series(0, 7)) AS seed) s
GROUP BY id, seed
"""


def q_minhash_pairs(spark, sf_dir):
    """Candidate pairs via the fused narrow bucketing (zero-shuffle hash
    computation; the exploded signatures+bands formulation is the oracle)."""
    from .datapipe.dedup import minhash_band_buckets
    d = load(spark, sf_dir, "documents", lift=True).filter(F.col("doc_id") < 200)
    return minhash_candidate_pairs(
        minhash_band_buckets(d, n_hashes=8, rows_per_band=2, k=3))


ORACLE_MINHASH_PAIRS = f"""
WITH toks AS ({_DUCK_SHINGLES3.format(lim=200)}), sig AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
  FROM toks, (SELECT unnest(generate_series(0, 7)) AS seed) s
  GROUP BY id, seed
), bands AS (
  SELECT id, CAST(floor(seed / 2) AS INTEGER) AS band_idx,
         md5(string_agg(CAST(seed AS VARCHAR) || ':' || minhash, '|'
             ORDER BY CAST(seed AS VARCHAR) || ':' || minhash)) AS band_hash
  FROM sig GROUP BY id, floor(seed / 2)
), sized AS (
  SELECT band_idx, band_hash FROM bands GROUP BY band_idx, band_hash
  HAVING count(*) > 1 AND count(*) <= 1000
), b AS (SELECT bands.* FROM bands JOIN sized USING (band_idx, band_hash))
SELECT DISTINCT a.id AS id_a, c.id AS id_b
FROM b a JOIN b c USING (band_idx, band_hash) WHERE a.id < c.id
"""


def q_cosine_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings", lift=True)
    q = (e.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qvec")))
    return brute_force_topk(e, q, k=3)


ORACLE_COSINE_TOPK = f"""
WITH scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS nbr_id,
         {_duck_cosine("CAST(q.embedding AS DOUBLE[])",
                      "CAST(c.embedding AS DOUBLE[])")} AS cos
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 5
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY cos DESC, nbr_id ASC) AS rank
  FROM scored WHERE cos IS NOT NULL
)
SELECT qid, nbr_id, CAST(rank AS INTEGER) AS rank, round(cos, 6) AS cosine
FROM ranked WHERE rank <= 3
"""


def q_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: the EXACT verification mode
    (explicit exact=True opt-in, blocked by id range); the scale path is the
    separate `near_dup_lsh` entry."""
    from .datapipe.similarity import embedding_near_dups
    e = load(spark, sf_dir, "embeddings", lift=True).filter(F.col("vec_id") < 150)
    return embedding_near_dups(e, threshold=0.35, exact=True)


ORACLE_NEAR_DUP = f"""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_duck_cosine("CAST(a.embedding AS DOUBLE[])",
                      "CAST(b.embedding AS DOUBLE[])")} AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE a.vec_id < 150 AND b.vec_id < 150
)
SELECT id_a, id_b, round(cos, 6) AS cosine FROM pairs WHERE cos >= 0.35
"""


def q_quality(spark, sf_dir):
    d = load(spark, sf_dir, "documents", lift=True)
    return quality_features(d).select(
        "doc_id", "n_chars", "n_tokens", "punct_ratio", "stopword_ratio",
        "quality_score")


ORACLE_QUALITY = f"""
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
           AS n_punct,
         len(regexp_extract_all(lower(text),
             '\\b({"|".join(STOPWORDS)})\\b')) AS n_stop
  FROM documents
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CASE WHEN n_chars > 0
             THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0 END, 6)
         AS punct_ratio,
       round(CASE WHEN n_tokens > 0
             THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0 END, 6)
         AS stopword_ratio,
       round(least(n_tokens / 50.0, 1.0) * 0.4
             + least(CASE WHEN n_tokens > 0
                     THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0 END
                     * 5.0, 1.0) * 0.3
             + (1.0 - least(CASE WHEN n_chars > 0
                            THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0 END
                            * 4.0, 1.0)) * 0.3, 6) AS quality_score
FROM f
"""


def q_lang_id(spark, sf_dir):
    d = load(spark, sf_dir, "documents", lift=True)
    return lang_id(d).select("doc_id", "pred_lang")


def _lang_id_cols_sql() -> str:
    """SQL column list computing the lang-id marker-hit and script-count
    intermediates (h_* / s_*) from a `text` column — shared by the lang_id
    oracle and the composed curation oracle."""
    from .datapipe.textstats import LANG_MARKERS, SCRIPT_RANGES
    hit_cols = ",\n       ".join(
        f"len(regexp_extract_all(lower(text), "
        f"'\\b({'|'.join(LANG_MARKERS[c])})\\b')) AS h_{c}"
        for c in sorted(LANG_MARKERS))
    # script char counts: length minus stripped length (same as Spark)
    script_cols = ",\n       ".join(
        f"length(lower(coalesce(text, ''))) - length(regexp_replace("
        f"lower(coalesce(text, '')), '[{lo}-{hi}]', '', 'g')) AS s_{c}"
        for c, (lo, hi) in sorted(SCRIPT_RANGES.items()))
    latin = ("length(lower(coalesce(text, ''))) - length(regexp_replace("
             "lower(coalesce(text, '')), '[a-z]', '', 'g')) AS s_lat")
    return f"{hit_cols},\n       {script_cols},\n       {latin}"


def _lang_id_case_sql() -> str:
    """The decision CASE over the h_*/s_* intermediates (script dominance
    first, then the marker vote, 'und' fallback)."""
    from .datapipe.textstats import LANG_MARKERS, SCRIPT_RANGES
    codes = sorted(LANG_MARKERS)
    # fold: first strictly-greater wins, scanning codes in sorted order
    m = ", ".join(f"h_{c}" for c in codes)
    marker_case = "CASE WHEN greatest(" + m + ") = 0 THEN 'und'"
    for c in codes:
        marker_case += f" WHEN h_{c} = greatest({m}) THEN '{c}'"
    marker_case += " END"
    # script dominance (strict > over every rival incl. latin) decides first
    scodes = sorted(SCRIPT_RANGES)
    case = "CASE"
    for c in scodes:
        rivals = ", ".join([f"s_{r}" for r in scodes if r != c] + ["s_lat"])
        case += f" WHEN s_{c} > greatest({rivals}) THEN '{c}'"
    case += f" ELSE {marker_case} END"
    return case


def _oracle_lang_id() -> str:
    return f"""
WITH h AS (SELECT doc_id, {_lang_id_cols_sql()} FROM documents)
SELECT doc_id, {_lang_id_case_sql()} AS pred_lang FROM h
"""


def q_token_counts(spark, sf_dir):
    d = load(spark, sf_dir, "documents", lift=True)
    return d.select(
        "doc_id",
        token_count_col(F.col("text")).cast("long").alias("ws_tokens"),
        bpe_ish_token_count_col(F.col("text")).cast("long").alias("bpe_tokens"))


ORACLE_TOKEN_COUNTS = """
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
         AS ws_tokens,
       CAST(len(regexp_extract_all(coalesce(text, ''),
            '[A-Za-zА-Яа-яЁё]{1,4}|[0-9]+|[^\\sA-Za-zА-Яа-яЁё0-9]'))
         AS BIGINT) AS bpe_tokens
FROM documents
"""


# non-distinct per-doc token counts (terms.doc_token_counts' DuckDB twin)
_DUCK_TF = """
  SELECT id, token, count(*) AS tf FROM (
    SELECT doc_id AS id,
           unnest(string_split(lower(regexp_replace(trim(text), '\\s+', ' ',
                                                    'g')), ' ')) AS token
    FROM documents) WHERE token <> '' GROUP BY id, token
"""


def q_decontam_overlap(spark, sf_dir):
    """Benchmark decontamination probe: which held-out docs share a 3-gram
    with the train slice (n=3 here so the synthetic corpus produces hits;
    production uses n=13).  Boilerplate-shingle cap exercised at 1000."""
    from .datapipe.dedup import ngram_overlap
    d = load(spark, sf_dir, "documents", lift=True)
    train = d.filter(F.col("doc_id") < 150)
    test = d.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300))
    return ngram_overlap(train, test, n=3, max_train_df=1000)


ORACLE_DECONTAM = f"""
WITH tr AS ({_DUCK_SHINGLES3_WHERE.format(alias='train_id', src='documents',
                                          where='doc_id < 150')}),
te AS ({_DUCK_SHINGLES3_WHERE.format(
    alias='test_id', src='documents',
    where='doc_id >= 150 AND doc_id < 300')}),
common AS (SELECT shingle FROM tr GROUP BY shingle
           HAVING count(*) <= 1000),
trc AS (SELECT tr.* FROM tr JOIN common USING (shingle))
SELECT te.test_id, trc.train_id, count(*) AS n_shared
FROM te JOIN trc USING (shingle)
GROUP BY te.test_id, trc.train_id
"""


def q_lm_score(spark, sf_dir):
    """Unigram LM quality proxy: per-doc mean smoothed log-prob under the
    corpus's own unigram distribution — junk scores low, common-vocabulary
    prose scores high; vocabulary broadcasts."""
    from .datapipe.terms import unigram_logprob_score
    d = load(spark, sf_dir, "documents", lift=True).filter(F.col("doc_id") < 300)
    return unigram_logprob_score(d)


ORACLE_LM_SCORE = """
WITH tf AS (
  SELECT id, token, count(*) AS tf FROM (
    SELECT doc_id AS id,
           unnest(string_split(lower(regexp_replace(trim(text), '[ \\t\\n\\x0b\\f\\r]+', ' ',
                                                    'g')), ' ')) AS token
    FROM documents WHERE doc_id < 300) WHERE token <> ''
  GROUP BY id, token
), vocab AS (SELECT token, sum(tf) AS c FROM tf GROUP BY token),
stats AS (SELECT sum(c) AS n, count(*) AS v FROM vocab)
SELECT id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       round(CAST(sum(CAST(tf * ln((coalesce(c, 0) + 1.0) / (n + v))
                          AS DECIMAL(20,8))) AS DOUBLE) / sum(tf), 6)
         AS avg_logprob
FROM tf LEFT JOIN vocab USING (token) CROSS JOIN stats
GROUP BY id
"""


def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sample: 100 docs weighted by length —
    exponential-race keys, top-k via TakeOrderedAndProject."""
    from .datapipe.sampling import weighted_sample_topk
    d = load(spark, sf_dir, "documents", lift=True).select("doc_id", "source",
                                                "n_chars")
    return weighted_sample_topk(d, k=100, weight_col="n_chars")


ORACLE_WSAMPLE = """
SELECT doc_id, source, n_chars, round(k, 6) AS _wkey FROM (
  SELECT doc_id, source, n_chars,
         -ln(CAST('0x' || substr(md5('wsample' ||
             CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)
             / 281474976710656.0)
           / CAST(n_chars AS DOUBLE) AS k
  FROM documents WHERE n_chars > 0
  ORDER BY k ASC, doc_id ASC LIMIT 100)
"""


def q_funnel(spark, sf_dir):
    """Ordered view->click->purchase funnel per user: each step strictly
    after the previous step's first occurrence; same-key joins reuse one
    partitioning."""
    from .datapipe.funnel import funnel_steps
    ev = load(spark, sf_dir, "events")
    return funnel_steps(ev, ["view", "click", "purchase"])


ORACLE_FUNNEL = """
WITH s1 AS (
  SELECT user_id AS "user", min(ts) AS t_1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id AS "user", min(e.ts) AS t_2
  FROM events e JOIN s1 ON s1."user" = e.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t_1 GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id AS "user", min(e.ts) AS t_3
  FROM events e JOIN s2 ON s2."user" = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t_2 GROUP BY e.user_id
)
SELECT s1."user", s1.t_1, s2.t_2, s3.t_3,
       CAST(CASE WHEN s3.t_3 IS NOT NULL THEN 3
            WHEN s2.t_2 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER)
         AS reached
FROM s1 LEFT JOIN s2 USING ("user") LEFT JOIN s3 USING ("user")
"""


def q_robust_outliers(spark, sf_dir):
    """Median/MAD modified z-scores of event value per type, flagged rows
    only — the heavy-tail-proof anomaly screen."""
    from .datapipe.outliers import robust_outliers
    ev = load(spark, sf_dir, "events").select("event_id", "event_type",
                                              "value")
    return robust_outliers(ev, "value", group_cols=["event_type"],
                           flagged_only=True) \
        .select("event_id", "event_type", "robust_z", "is_outlier")


ORACLE_ROBUST_OUTLIERS = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events WHERE value IS NOT NULL GROUP BY event_type
), mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type)
  WHERE e.value IS NOT NULL GROUP BY e.event_type
), scored AS (
  SELECT e.event_id, e.event_type,
         CASE WHEN d.mad > 0
              THEN round(0.6745 * (e.value - m.med) / d.mad, 6) END
           AS robust_z
  FROM events e JOIN med m USING (event_type)
                JOIN mad d USING (event_type)
  WHERE e.value IS NOT NULL
)
SELECT event_id, event_type, robust_z, TRUE AS is_outlier
FROM scored WHERE abs(robust_z) > 3.5
"""


def q_keyword_search(spark, sf_dir):
    """Conjunctive keyword search + keyword-in-context rendering in one
    result frame: docs containing ALL query terms (query-term filter
    FIRST, so cost scales with posting sizes), each matching doc carrying
    its first ±3-token snippets around 'spark' (max 2 per doc; every
    conjunctive match contains the term, so the inner join loses no doc).
    Extended in r6 to gate `keyword_snippets` (pytest-only in r5)."""
    from .datapipe.search import keyword_search, keyword_snippets
    d = load(spark, sf_dir, "documents", lift=True)
    hits = keyword_search(d, ["spark", "table", "join"], mode="and")
    snips = keyword_snippets(d, "spark", window=3, max_per_doc=2)
    return hits.join(snips, "id").select("id", "n_matched", "hit_pos",
                                         "snippet")


ORACLE_KEYWORD = f"""
WITH toks AS ({_DUCK_TOKENS_WHERE.format(where='TRUE')}
), hits AS (
  SELECT id, count(DISTINCT token) AS n_matched
  FROM toks WHERE token IN ('join', 'spark', 'table')
  GROUP BY id HAVING count(DISTINCT token) = 3
), words AS (
  SELECT doc_id AS id,
         list_filter(string_split(lower(regexp_replace(trim(text), '\\s+',
                                                       ' ', 'g')), ' '),
                     x -> x <> '') AS w
  FROM documents
), pos AS (
  SELECT id, w, i,
         row_number() OVER (PARTITION BY id ORDER BY i) AS rn
  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) g
  WHERE w[i] = 'spark'
), snips AS (
  SELECT id, CAST(i - 1 AS INTEGER) AS hit_pos,
         array_to_string(list_slice(w, greatest(i - 3, 1),
                                    least(i + 3, len(w))), ' ') AS snippet
  FROM pos WHERE rn <= 2
)
SELECT h.id, h.n_matched, s.hit_pos, s.snippet
FROM hits h JOIN snips s USING (id)
"""


def q_inverted_postings(spark, sf_dir):
    """Inverted-index build with df-bounded posting lists (vocabulary
    pruning keeps every collect_list buffer bounded); postings serialized
    to a comma string for the gate compare."""
    from .datapipe.search import inverted_postings
    d = load(spark, sf_dir, "documents", lift=True).filter(F.col("doc_id") < 300)
    idx = inverted_postings(d, min_df=2, max_df=250)
    return idx.select(
        "token", "df",
        F.array_join(F.transform("postings",
                                 lambda x: x.cast("string")), ",")
         .alias("postings"))


ORACLE_POSTINGS = f"""
WITH toks AS ({_DUCK_TOKENS_WHERE.format(where='doc_id < 300')}
), counted AS (
  SELECT token, count(*) AS df FROM toks GROUP BY token
  HAVING count(*) >= 2 AND count(*) <= 250
)
SELECT t.token, CAST(c.df AS BIGINT) AS df,
       array_to_string(list_sort(list(t.id)), ',') AS postings
FROM toks t JOIN counted c USING (token)
GROUP BY t.token, c.df
"""


def q_truncate_chunk(spark, sf_dir):
    """Context-window guard + retrieval-ingest chunking composed (r6 gate
    entry for the r5 pytest-only pair): documents truncated to a 64-token
    budget at sentence boundaries, then split into overlapping 32-token
    windows (step 24); each chunk row carries the doc-level truncation
    stats.  All per-row array expressions — the only exchange is the
    tiny doc-stats rejoin, and that is broadcast."""
    from .datapipe.assembly import chunk_text, truncate_to_token_budget
    d = (load(spark, sf_dir, "documents", lift=True)
         .filter(F.col("doc_id") < 300))
    t = truncate_to_token_budget(d, max_tokens=64)
    chunks = chunk_text(t, chunk_tokens=32, overlap=8)
    stats = t.select(F.col("doc_id").alias("id"), "n_tokens_kept",
                     "was_truncated")
    return (chunks.join(F.broadcast(stats), "id")
            .select("id", "chunk_idx", "start_tok", "n_tokens", "chunk",
                    "n_tokens_kept", "was_truncated"))


ORACLE_TRUNCATE_CHUNK = """
WITH sents AS (
  SELECT doc_id, string_split_regex(text, '\\. ') AS ss
  FROM documents WHERE doc_id < 300
), sc AS (
  SELECT doc_id, i, ss[i] AS sent, len(ss) AS n_sents,
         len(list_filter(string_split_regex(trim(ss[i]), '\\s+'),
                         x -> x <> '')) AS ntok
  FROM sents, LATERAL (SELECT unnest(generate_series(1, len(ss))) AS i) g
), cum AS (
  SELECT *, sum(ntok) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS UNBOUNDED PRECEDING) AS run
  FROM sc
), fit AS (
  SELECT doc_id, n_sents,
         greatest(count(*) FILTER (run <= 64), 1) AS n_fit,
         coalesce(max(run) FILTER (run <= 64),
                  max(ntok) FILTER (i = 1)) AS n_tokens_kept
  FROM cum GROUP BY doc_id, n_sents
), trunc AS (
  SELECT c.doc_id,
         coalesce(string_agg(c.sent, '. ' ORDER BY c.i)
                  FILTER (c.i <= f.n_fit), '') AS ttext,
         CAST(any_value(f.n_tokens_kept) AS INTEGER) AS n_tokens_kept,
         any_value(f.n_fit < f.n_sents) AS was_truncated
  FROM cum c JOIN fit f USING (doc_id) GROUP BY c.doc_id
), tw AS (
  SELECT doc_id AS id, n_tokens_kept, was_truncated,
         list_filter(string_split_regex(trim(ttext), '\\s+'),
                     x -> x <> '') AS w
  FROM trunc
)
SELECT id, CAST((s - 1) // 24 AS INTEGER) AS chunk_idx,
       CAST(s - 1 AS INTEGER) AS start_tok,
       CAST(least(32, len(w) - s + 1) AS INTEGER) AS n_tokens,
       array_to_string(list_slice(w, s, least(s + 31, len(w))), ' ')
         AS chunk,
       n_tokens_kept, was_truncated
FROM tw, LATERAL (SELECT unnest(generate_series(
         1, greatest(len(w) - 8, 1), 24)) AS s) g
WHERE len(w) > 0
"""


def q_bigram_lm(spark, sf_dir):
    """Per-doc mean bigram conditional log-prob under the corpus's own
    bigram model (r6 gate entry for the r5 pytest-only scorer) — word
    salad scores low even when every single token is common."""
    from .datapipe.terms import bigram_logprob_score
    d = (load(spark, sf_dir, "documents", lift=True)
         .filter(F.col("doc_id") < 300))
    return bigram_logprob_score(d)


ORACLE_BIGRAM_LM = """
WITH words AS (
  SELECT doc_id AS id,
         list_filter(string_split(lower(regexp_replace(trim(text), '\\s+',
                                                       ' ', 'g')), ' '),
                     x -> x <> '') AS w
  FROM documents WHERE doc_id < 300
), pairs AS (
  SELECT id, w[i] AS x, w[i + 1] AS y, count(*) AS n
  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) g
  GROUP BY id, x, y
), uni AS (
  SELECT x, count(*) AS cx
  FROM (SELECT unnest(w) AS x FROM words) GROUP BY x
), big AS (SELECT x, y, CAST(sum(n) AS BIGINT) AS cxy
           FROM pairs GROUP BY x, y),
vocab AS (SELECT count(*) AS v FROM uni)
SELECT id, CAST(sum(n) AS BIGINT) AS n_bigrams,
       round(CAST(sum(CAST(n * ln((cxy + 1.0) / (cx + v))
                           AS DECIMAL(20,8))) AS DOUBLE) / sum(n), 6)
         AS avg_logprob
FROM pairs JOIN big USING (x, y) JOIN uni USING (x) CROSS JOIN vocab
GROUP BY id
"""


def q_merge_shards(spark, sf_dir):
    """Sharded MinHash index maintenance (r6 gate entry for the r5
    pytest-only merge): each document's text is split into two character
    halves signed independently — shard B exists only for even ids, so
    the one-sided passthrough is exercised — and the shards merge by
    element-wise signature min.  The oracle recomputes signatures over
    the UNION of both halves' shingles, so a green row proves the merge's
    semantic claim (min of shard sigs == sig of the shingle union), not
    just the zip_with mechanics."""
    from .datapipe.dedup import merge_signature_shards, signature_table
    d = (load(spark, sf_dir, "documents", lift=True)
         .filter(F.col("doc_id") < 200))
    half = (F.length("text") / 2).cast("int")
    a = d.select("doc_id",
                 F.col("text").substr(F.lit(1), half).alias("text"))
    b = (d.filter(F.col("doc_id") % 2 == 0)
         .select("doc_id",
                 F.col("text").substr(half + 1, F.length("text"))
                  .alias("text")))
    merged = merge_signature_shards(signature_table(a, n_hashes=8, k=3),
                                    signature_table(b, n_hashes=8, k=3))
    return merged.select("id", F.posexplode("sig").alias("seed", "minhash"))


_DUCK_HALF_SHINGLES = _DUCK_SHINGLES3_WHERE.format(
    alias="id", src="halves", where="TRUE")

ORACLE_MERGE_SHARDS = f"""
WITH halves AS (
  SELECT doc_id, substr(text, 1, length(text) // 2) AS text
  FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT doc_id, substr(text, length(text) // 2 + 1, length(text)) AS text
  FROM documents WHERE doc_id < 200 AND doc_id % 2 = 0
), toks AS ({_DUCK_HALF_SHINGLES})
SELECT id, CAST(seed AS INTEGER) AS seed,
       min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
FROM toks, (SELECT unnest(generate_series(0, 7)) AS seed) s
GROUP BY id, seed
"""


def q_corpus_report(spark, sf_dir):
    """Per-source data card: volume/quality/language/duplication in one
    hash aggregate over the already-oracled per-doc operators."""
    from .datapipe.report import corpus_report
    return corpus_report(load(spark, sf_dir, "documents", lift=True))


def _oracle_corpus_report() -> str:
    return f"""
WITH qf AS ({ORACLE_QUALITY}),
l AS (SELECT doc_id, {_lang_id_case_sql()} AS pred_lang
      FROM (SELECT doc_id, {_lang_id_cols_sql()} FROM documents) h),
dg AS (SELECT doc_id, source,
              md5(lower(regexp_replace(trim(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')))
                AS digest
       FROM documents)
SELECT dg.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(qf.n_tokens) AS BIGINT) AS total_tokens,
       round(CAST(sum(CAST(qf.quality_score AS DECIMAL(18,6))) AS DOUBLE)
             / count(qf.quality_score), 6) AS mean_quality,
       round(avg(CASE WHEN l.pred_lang = 'en' THEN 1.0 ELSE 0.0 END), 6)
         AS en_share,
       CAST(count(DISTINCT dg.digest) AS BIGINT) AS n_unique,
       round(1.0 - CAST(count(DISTINCT dg.digest) AS DOUBLE) / count(*), 6)
         AS dup_rate,
       round(avg(qf.n_chars), 6) AS mean_chars
FROM dg JOIN qf USING (doc_id) JOIN l USING (doc_id)
GROUP BY dg.source
"""


def q_pack_sequences(spark, sf_dir):
    """Training-sequence packing: epoch-shuffled docs salted into 8
    streams, contiguous greedy packing into 512-token sequences via one
    per-stream cumulative window — each stream is an independent shard."""
    from .datapipe.assembly import pack_sequences
    d = load(spark, sf_dir, "documents", lift=True).filter(F.col("doc_id") < 500)
    return pack_sequences(d, token_budget=512, n_streams=8, seed=0)


ORACLE_PACK = """
WITH d AS (
  SELECT doc_id AS id,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
              AS BIGINT) AS n_tokens,
         md5('0:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents WHERE doc_id < 500
), s AS (
  SELECT *, CAST(CAST('0x' || substr(k, 1, 7) AS BIGINT) % 8 AS INTEGER)
            AS stream
  FROM d
), w AS (
  SELECT id, n_tokens, stream,
         coalesce(sum(n_tokens) OVER (
             PARTITION BY stream ORDER BY k
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
  FROM s
)
SELECT id, n_tokens, stream,
       CAST(floor(pre / 512) AS BIGINT) AS seq_id,
       CAST(pre - CAST(floor(pre / 512) AS BIGINT) * 512 AS BIGINT)
         AS seq_offset
FROM w
"""


def q_mixture_sample(spark, sf_dir):
    """Deterministic source-mixture downsampling over the event stream
    (event_type as the source): per-source keep-rates via the md5 draw —
    stable under repartitioning, unlisted sources drop."""
    from .datapipe.assembly import mixture_sample
    ev = load(spark, sf_dir, "events") \
        .select("event_id", "event_type", "user_id")
    rates = {"click": 0.5, "view": 0.2, "purchase": 1.0}
    return mixture_sample(ev, rates, source_col="event_type",
                          id_col="event_id")


ORACLE_MIXTURE = """
SELECT event_id, event_type, user_id
FROM (
  SELECT *,
         CAST('0x' || substr(md5('mixture:' || CAST(event_id AS VARCHAR)),
                             1, 12) AS BIGINT)
           / 281474976710656.0 AS u
  FROM events)
WHERE u < CASE event_type WHEN 'click' THEN 0.5 WHEN 'view' THEN 0.2
          WHEN 'purchase' THEN 1.0 ELSE 0.0 END
"""


def q_heavy_hitters(spark, sf_dir):
    """Corpus-wide top-50 tokens: partial-agg counting + top-k via
    TakeOrderedAndProject (never a global sort)."""
    from .datapipe.terms import heavy_hitters
    return heavy_hitters(load(spark, sf_dir, "documents", lift=True), k=50)


ORACLE_HEAVY_HITTERS = f"""
WITH tf AS ({_DUCK_TF})
SELECT token, CAST(sum(tf) AS BIGINT) AS n_occurrences,
       CAST(count(*) AS BIGINT) AS n_docs
FROM tf GROUP BY token ORDER BY n_occurrences DESC, token ASC LIMIT 50
"""


def q_tfidf(spark, sf_dir):
    """Top-3 TF-IDF terms per doc (smoothed idf, deterministic ties)."""
    from .datapipe.terms import tfidf_top_terms
    return tfidf_top_terms(load(spark, sf_dir, "documents", lift=True), k=3)


ORACLE_TFIDF = f"""
WITH tf AS ({_DUCK_TF}),
dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.id, tf.token,
         tf.tf * ln((n.n_docs + 1.0) / (dfq.df + 1.0)) AS tfidf
  FROM tf JOIN dfq USING (token) CROSS JOIN n
), r AS (
  SELECT *, row_number() OVER (PARTITION BY id
            ORDER BY tfidf DESC, token ASC) AS rank FROM scored
)
SELECT id, token, round(tfidf, 6) AS tfidf, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= 3
"""


def _hash_hex_threshold(fraction: float) -> str:
    """12-hex-digit threshold T such that the sampling predicate
    ``md5_prefix_as_int / 16^12 < fraction`` (exact in doubles: the prefix
    int < 2^48 <= 2^53 and /2^48 is a power-of-two scale) is equivalent to
    the portable STRING compare ``substr(md5(x),1,12) < hex(T)`` — hex
    order == numeric order at fixed width.  Only valid for fraction < 1."""
    import math
    assert 0.0 <= fraction < 1.0
    return format(math.ceil(fraction * (1 << 48)), "012x")


def q_det_sample(spark, sf_dir):
    """Deterministic 25% sample keyed on md5(doc_id): reproducible across
    runs/engines/partitionings (df.sample is none of those); zero shuffle."""
    from .datapipe.sampling import deterministic_sample
    d = load(spark, sf_dir, "documents", lift=True)
    return deterministic_sample(d, 0.25).select("doc_id")


ORACLE_DET_SAMPLE = f"""
SELECT doc_id FROM documents
WHERE substr(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 12)
      < '{_hash_hex_threshold(0.25)}'
"""


def q_strat_sample(spark, sf_dir):
    """Stratified rebalancing sample: keep all zh docs, 20% of en, 50% of
    everything else — the language-rebalance pattern at corpus scale."""
    from .datapipe.sampling import stratified_sample
    d = load(spark, sf_dir, "documents", lift=True)
    return stratified_sample(d, {"en": 0.2, "zh": 1.0}, "lang",
                             default_fraction=0.5) \
        .select("doc_id", "lang")


ORACLE_STRAT_SAMPLE = f"""
SELECT doc_id, lang FROM documents
WHERE (lang = 'zh')
   OR (lang = 'en' AND substr(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 12)
       < '{_hash_hex_threshold(0.2)}')
   OR (lang NOT IN ('en', 'zh')
       AND substr(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 12)
       < '{_hash_hex_threshold(0.5)}')
"""


def q_split_assign(spark, sf_dir):
    """80/10/10 train/val/test assignment from the id hash draw — every doc
    in exactly one split, stable forever, disjoint salt from sampling."""
    from .datapipe.sampling import assign_splits
    d = load(spark, sf_dir, "documents", lift=True)
    return assign_splits(d, {"train": 0.8, "val": 0.1, "test": 0.1}) \
        .select("doc_id", "split")


def _oracle_split_assign() -> str:
    # cumulative boundaries over sorted split names (test, train, val) —
    # EXACTLY the accumulation assign_splits performs
    bounds = []
    cum = 0.0
    for name, w in (("test", 0.1), ("train", 0.8)):
        cum += w
        bounds.append((name, _hash_hex_threshold(cum)))
    case = "CASE"
    for name, hx in bounds:
        case += (f" WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, "
                 f"12) < '{hx}' THEN '{name}'")
    case += " ELSE 'val' END"
    return f"SELECT doc_id, {case} AS split FROM documents"


def q_curation(spark, sf_dir):
    """Flagship composed pipeline: quality floor -> language allowlist ->
    exact dedup (canonical min-id) -> MinHash-LSH + exact-Jaccard near-dup
    (greedy keep-smallest-id) -> train/val/test assignment.  Every stage is
    an already-gated operator; this entry gates their COMPOSITION."""
    from .datapipe.curate import curate_corpus
    return curate_corpus(load(spark, sf_dir, "documents", lift=True))


def _oracle_curation(min_quality: float = 0.55, lang: str = "en",
                     jacc: float = 0.8) -> str:
    bounds = []
    cum = 0.0
    for name, w in (("test", 0.1), ("train", 0.8)):
        cum += w
        bounds.append((name, _hash_hex_threshold(cum)))
    split_case = "CASE"
    for name, hx in bounds:
        split_case += (f" WHEN substr(md5('split' || CAST(doc_id AS "
                       f"VARCHAR)), 1, 12) < '{hx}' THEN '{name}'")
    split_case += " ELSE 'val' END"
    return f"""
WITH f AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
           AS n_punct,
         len(regexp_extract_all(lower(text),
             '\\b({"|".join(STOPWORDS)})\\b')) AS n_stop
  FROM documents
), scored AS (
  SELECT doc_id, text,
       round(least(n_tokens / 50.0, 1.0) * 0.4
             + least(CASE WHEN n_tokens > 0
                     THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0 END
                     * 5.0, 1.0) * 0.3
             + (1.0 - least(CASE WHEN n_chars > 0
                            THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0 END
                            * 4.0, 1.0)) * 0.3, 6) AS quality_score
  FROM f
), q AS (SELECT * FROM scored WHERE quality_score >= {min_quality}),
h AS (SELECT q.*, {_lang_id_cols_sql()} FROM q),
tagged AS (
  SELECT doc_id, text, quality_score,
         {_lang_id_case_sql()} AS pred_lang FROM h
), lq AS (SELECT * FROM tagged WHERE pred_lang = '{lang}'),
dg AS (
  SELECT *, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
         AS digest FROM lq
), canon AS (SELECT digest, min(doc_id) AS doc_id FROM dg GROUP BY digest),
exact AS (SELECT dg.* FROM dg JOIN canon USING (digest, doc_id)),
toks AS (
  SELECT DISTINCT doc_id AS id,
         array_to_string(words[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id,
               string_split(lower(regexp_replace(trim(text), '\\s+', ' ',
                                                 'g')), ' ') AS words
        FROM exact) d,
       LATERAL (SELECT unnest(generate_series(1,
                CASE WHEN len(words) >= 3 THEN len(words) - 2 ELSE 1 END))
                AS i) g
), sig AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
  FROM toks, (SELECT unnest(generate_series(0, 7)) AS seed) s
  GROUP BY id, seed
), bands AS (
  SELECT id, CAST(floor(seed / 2) AS INTEGER) AS band_idx,
         md5(string_agg(CAST(seed AS VARCHAR) || ':' || minhash, '|'
             ORDER BY CAST(seed AS VARCHAR) || ':' || minhash)) AS band_hash
  FROM sig GROUP BY id, floor(seed / 2)
), sized AS (
  SELECT band_idx, band_hash FROM bands GROUP BY band_idx, band_hash
  HAVING count(*) > 1 AND count(*) <= 1000
), b AS (SELECT bands.* FROM bands JOIN sized USING (band_idx, band_hash)),
cand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b
  FROM b a JOIN b c USING (band_idx, band_hash) WHERE a.id < c.id
), sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
inter AS (
  SELECT cand.id_a, cand.id_b, count(*) AS n_inter
  FROM cand JOIN toks t1 ON t1.id = cand.id_a
            JOIN toks t2 ON t2.id = cand.id_b AND t2.shingle = t1.shingle
  GROUP BY cand.id_a, cand.id_b
), dropped AS (
  SELECT DISTINCT id_b AS doc_id FROM inter
  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= {jacc}
)
SELECT doc_id, pred_lang, quality_score, {split_case} AS split
FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
"""


def q_fingerprint(spark, sf_dir):
    from .datapipe.textstats import fingerprint
    d = load(spark, sf_dir, "documents", lift=True)
    return fingerprint(d)


ORACLE_FINGERPRINT = """
SELECT doc_id AS id, min(md5(t)) AS fingerprint FROM (
  SELECT doc_id,
         unnest(string_split(lower(regexp_replace(trim(text), '\\s+', ' ',
                                                  'g')), ' ')) AS t
  FROM documents)
GROUP BY doc_id
"""


def q_header_parse(spark, sf_dir):
    """F2/F3 (scan.py:79-123, full_description.py:304-346): JSON -> typed
    struct via from_json, keep only headers with level+title+page, explode.
    The JSON is synthesized from the part table (one valid + one invalid
    header per row) so the validation filter has real work to do."""
    p = load(spark, sf_dir, "part")
    js = F.format_string(
        '{"headers": [{"level": %d, "title": "%s", "page": %d}, '
        '{"level": null, "title": "broken", "page": 1}]}',
        (F.col("p_size") % 5 + 1).cast("int"), F.col("p_brand"),
        (F.col("p_partkey") % 30 + 1).cast("int"))
    schema = ("struct<headers:array<struct<level:int,title:string,"
              "page:int>>>")
    parsed = p.select("p_partkey", F.from_json(js, schema).alias("s"))
    headers = parsed.select(
        "p_partkey",
        F.explode(F.filter(
            F.col("s.headers"),
            lambda h: h["level"].isNotNull() & h["title"].isNotNull()
                      & h["page"].isNotNull())).alias("h"))
    return headers.select("p_partkey",
                          F.col("h.level").alias("level"),
                          F.col("h.title").alias("title"),
                          F.col("h.page").alias("page"))


ORACLE_HEADER_PARSE = """
WITH j AS (
  SELECT p_partkey,
         '{"headers": [{"level": ' || CAST(p_size % 5 + 1 AS VARCHAR) ||
         ', "title": "' || p_brand || '", "page": ' ||
         CAST(p_partkey % 30 + 1 AS VARCHAR) ||
         '}, {"level": null, "title": "broken", "page": 1}]}' AS js
  FROM part
), h AS (
  SELECT p_partkey,
         TRY_CAST(json_extract(js, '$.headers[' || i || '].level')
                  AS INTEGER) AS level,
         json_extract_string(js, '$.headers[' || i || '].title') AS title,
         TRY_CAST(json_extract(js, '$.headers[' || i || '].page')
                  AS INTEGER) AS page
  FROM j, LATERAL (SELECT unnest(generate_series(
       0, CAST(json_array_length(js, '$.headers') AS INTEGER) - 1)) AS i) g
)
SELECT p_partkey, level, title, page FROM h
WHERE level IS NOT NULL AND title IS NOT NULL AND page IS NOT NULL
"""


def q_windowed_counts(spark, sf_dir):
    """Event-time tumbling-window agg (streaming shape, batch semantics —
    Spark's unified model makes them identical; the streaming run is
    covered by tests/test_streaming_windowed_bucketing.py)."""
    from .streaming.windowed import windowed_event_counts
    ev = load(spark, sf_dir, "events")
    out = windowed_event_counts(ev, window_len="1 hour")
    return out.select(
        F.unix_timestamp("window_start").alias("window_epoch"),
        "event_type", "n_events", "sum_value")


ORACLE_WINDOWED = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_epoch,
       event_type, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
         AS sum_value
FROM events GROUP BY 1, 2
"""


def q_sessionize(spark, sf_dir):
    """Gaps-and-islands sessionization (batch form of session windows):
    per-user sessions split at >30-min gaps, one exchange total."""
    from .datapipe.sessions import with_session_id
    ev = load(spark, sf_dir, "events")
    s = with_session_id(ev, gap_minutes=30)
    return (s.groupBy("user_id", "session_id")
            .agg(F.unix_timestamp(F.min("ts")).alias("start_epoch"),
                 F.unix_timestamp(F.max("ts")).alias("end_epoch"),
                 F.count("*").alias("n_events"),
                 dsum("value").alias("sum_value")))


ORACLE_SESSIONIZE = """
WITH o AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id
  FROM o
)
SELECT user_id, session_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS end_epoch,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
         AS sum_value
FROM s GROUP BY 1, 2
"""


def q_asof_join(spark, sf_dir):
    """Backward-inclusive as-of join (union-and-carry, ONE exchange, no
    range join): each click gets the latest view value of the same user at
    or before its timestamp; oracle is DuckDB's native ASOF JOIN."""
    from .datapipe.asof import asof_join
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click") \
               .select("event_id", "user_id", "ts", "value")
    views = (ev.filter(F.col("event_type") == "view")
             .groupBy("user_id", "ts")
             .agg(F.max("value").alias("view_value")))
    out = asof_join(clicks, views, on=["user_id"], ts_col="ts",
                    value_cols=["view_value"])
    return out.select("event_id", "user_id",
                      F.unix_timestamp("ts").alias("ts_epoch"),
                      F.round("asof_view_value", 4).alias("last_view_value"))


ORACLE_ASOF = """
WITH clicks AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
), views AS (
  SELECT user_id, ts, max(value) AS view_value FROM events
  WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS ts_epoch,
       round(v.view_value, 4) AS last_view_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND v.ts <= c.ts
"""


def q_range_join(spark, sf_dir):
    """Chunked range join (equi-join on time buckets + residual BETWEEN —
    never a theta join): count each user's events inside their own session
    intervals; self-validating against sessionize's n_events."""
    from .datapipe.ranges import range_join
    from .datapipe.sessions import session_summary
    ev = load(spark, sf_dir, "events")
    sess = session_summary(ev, gap_minutes=30)
    joined = range_join(ev.select("user_id", "ts", "event_id"), sess,
                        on=["user_id"], ts_col="ts",
                        start_col="session_start", end_col="session_end",
                        chunk_seconds=3600)
    return (joined.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_in_range")))


ORACLE_RANGE_JOIN = """
WITH o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id
  FROM o
), sess AS (
  SELECT user_id, session_id, min(ts) AS st, max(ts) AS en
  FROM s GROUP BY 1, 2
)
SELECT sess.user_id, sess.session_id, count(*) AS n_in_range
FROM sess JOIN events e
  ON e.user_id = sess.user_id AND e.ts BETWEEN sess.st AND sess.en
GROUP BY 1, 2
"""


def q_event_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`): p50/p95 of event value by type.  Scale note:
    exact percentile sorts within each group's aggregation buffer — fine for
    bounded groups; unbounded-cardinality groups would switch to
    approx_percentile (t-digest) and lose the exact oracle."""
    ev = load(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.5, 0.95))")
    return (ev.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.get(pct, 0), 6).alias("p50"),
                 F.round(F.get(pct, 1), 6).alias("p95")))


ORACLE_EVENT_PERCENTILES = """
SELECT event_type, count(*) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95
FROM events GROUP BY event_type
"""


def q_event_pivot(spark, sf_dir):
    """Pivot: per-user event-type counts as columns.  The value set is
    pinned (pivot(col, values)) so Spark skips the extra distinct-values
    job and the plan is ONE hash aggregate — at corpus scale an unpinned
    pivot pays a full scan just to learn the columns."""
    ev = load(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (ev.groupBy("user_id")
            .pivot("event_type", types)
            .agg(F.count(F.lit(1)))
            .na.fill(0, types)
            .select("user_id",
                    *[F.col(t).cast("long").alias(f"n_{t}") for t in types]))


ORACLE_EVENT_PIVOT = """
SELECT user_id,
       count(*) FILTER (event_type = 'click')    AS n_click,
       count(*) FILTER (event_type = 'error')    AS n_error,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'signup')   AS n_signup,
       count(*) FILTER (event_type = 'view')     AS n_view
FROM events GROUP BY user_id
"""


def q_range_join_left(spark, sf_dir):
    """Left range join: every event keeps a row; events outside any LONG
    session (>= 10 events) carry a null session_id — the outer variant whose
    residual BETWEEN must live in the join condition, not a post-filter."""
    from .datapipe.ranges import range_join
    from .datapipe.sessions import session_summary
    ev = load(spark, sf_dir, "events")
    long_sess = session_summary(ev, gap_minutes=30) \
        .filter(F.col("n_events") >= 10)
    joined = range_join(ev.select("user_id", "ts", "event_id"), long_sess,
                        on=["user_id"], ts_col="ts",
                        start_col="session_start", end_col="session_end",
                        chunk_seconds=3600, how="left")
    return joined.select("user_id", "event_id", "session_id")


ORACLE_RANGE_JOIN_LEFT = """
WITH o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id
  FROM o
), sess AS (
  SELECT user_id, session_id, min(ts) AS st, max(ts) AS en
  FROM s GROUP BY 1, 2 HAVING count(*) >= 10
)
SELECT e.user_id, e.event_id, sess.session_id
FROM events e LEFT JOIN sess
  ON e.user_id = sess.user_id AND e.ts BETWEEN sess.st AND sess.en
"""


def q_time_rollup(spark, sf_dir):
    """Hypertable-style continuous aggregate: hour buckets from raw, day
    buckets re-aggregated from the hour level (sums of sums)."""
    from .datapipe.sessions import time_rollup
    ev = load(spark, sf_dir, "events")
    out = time_rollup(ev, levels=("hour", "day"))
    # sum_value arrives as exact decimal (order-invariant by construction,
    # see datapipe/sessions.py) — round + cast to double only for display
    return out.select("level",
                      F.unix_timestamp("bucket").alias("bucket_epoch"),
                      "key", "n_events",
                      F.round("sum_value", 4).cast("double")
                       .alias("sum_value"))


ORACLE_TIME_ROLLUP = """
WITH h AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type AS key,
         count(*) AS n_events,
         sum(CAST(value AS DECIMAL(18,6))) AS sum_value
  FROM events GROUP BY 1, 2
), d AS (
  -- CAST is load-bearing: DuckDB types sum(BIGINT) as HUGEINT, the UNION
  -- promotes the whole n_events column, and pandas materializes HUGEINT as
  -- float64 (78.0) while Spark emits bigint (78) — the strict driver hash
  -- then fails on every row (the r4/r5 time_rollup red rows).  This is the
  -- only sum-of-a-count oracle in the registry; tests/test_contract_schemas
  -- now sweeps all oracles for HUGEINT outputs.
  SELECT date_trunc('day', bucket) AS bucket, key,
         CAST(sum(n_events) AS BIGINT) AS n_events,
         sum(sum_value) AS sum_value
  FROM h GROUP BY 1, 2
)
SELECT 'hour' AS level, CAST(floor(epoch(bucket)) AS BIGINT) AS bucket_epoch,
       key, n_events,
       CAST(round(sum_value, 4) AS DOUBLE) AS sum_value FROM h
UNION ALL
SELECT 'day', CAST(floor(epoch(bucket)) AS BIGINT), key, n_events,
       CAST(round(sum_value, 4) AS DOUBLE) FROM d
"""


def q_rollup_cube(spark, sf_dir):
    """SURVEY §2.4 footnote made real: multi-level aggregates via ROLLUP
    (free from Catalyst; the metrics-table use case).  grouping_id
    disambiguates the NULL-as-total rows."""
    li = load(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.grouping_id().cast("int").alias("gid"),
                 F.count("*").alias("n"),
                 dsum("l_quantity").alias("sum_qty"))
            .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty"))


ORACLE_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INTEGER)
         AS gid,
       count(*) AS n,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 4) AS DOUBLE)
         AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_sanitize(spark, sf_dir):
    """F11 (state.py:244-259): filesystem-unsafe chars -> '_'."""
    from .functions.normalize import sanitize_filename_col
    p = load(spark, sf_dir, "part")
    raw = F.concat(F.lit('a/b:"c'), F.col("p_brand"), F.lit("*?<x>.txt|"))
    return p.select("p_partkey", sanitize_filename_col(raw).alias("fname"))


ORACLE_SANITIZE = """
SELECT p_partkey,
       regexp_replace('a/b:"c' || p_brand || '*?<x>.txt|',
                      '[\\\\/:*?"<>|]', '_', 'g') AS fname
FROM part
"""


def q_consistency(spark, sf_dir):
    """A8: consistency vs baseline run (ocr_chunk_grid.py:138-146)."""
    from .operators.metrics import consistency_vs_baseline
    ev = load(spark, sf_dir, "events")
    base = ev.groupBy("user_id").agg(
        F.min_by("event_type", "event_id").alias("value"))
    run = ev.filter(F.col("event_id") >= 10).groupBy("user_id").agg(
        F.min_by("event_type", "event_id").alias("value"))
    return consistency_vs_baseline(run, base, ["user_id"])


ORACLE_CONSISTENCY = """
WITH base AS (SELECT user_id, min_by(event_type, event_id) AS v
              FROM events GROUP BY user_id),
run AS (SELECT user_id, min_by(event_type, event_id) AS v
        FROM events WHERE event_id >= 10 GROUP BY user_id),
j AS (SELECT r.v AS rv, b.v AS bv FROM run r JOIN base b USING (user_id))
SELECT count(*) AS n_total,
       count(*) FILTER (WHERE rv = bv OR (rv IS NULL AND bv IS NULL))
         AS n_match,
       round(CAST(count(*) FILTER (WHERE rv = bv OR (rv IS NULL AND bv IS
             NULL)) AS DOUBLE) / count(*), 6) AS consistency
FROM j
"""


def q_fence_strip(spark, sf_dir):
    """F1: JSON-fence stripping (scan.py:70-76)."""
    from .functions.normalize import strip_json_fence_col
    d = load(spark, sf_dir, "documents", lift=True)
    fenced = F.concat(F.lit("```json\n"), F.col("text"), F.lit("\n```"))
    return d.select("doc_id",
                    strip_json_fence_col(fenced).alias("inner_text"))


ORACLE_FENCE = """
SELECT doc_id,
       CASE WHEN regexp_extract('```json' || chr(10) || text || chr(10) ||
                 '```', '```(?:json)?[ \\t\\n\\x0b\\f\\r]*([\\s\\S]*?)[ \\t\\n\\x0b\\f\\r]*```', 1) <> ''
            THEN regexp_extract('```json' || chr(10) || text || chr(10) ||
                 '```', '```(?:json)?[ \\t\\n\\x0b\\f\\r]*([\\s\\S]*?)[ \\t\\n\\x0b\\f\\r]*```', 1)
            ELSE trim('```json' || chr(10) || text || chr(10) || '```')
       END AS inner_text
FROM documents
"""


# ---------------------------------------------------------------------------
# Formerly rows-only queries — now each with an exact DuckDB oracle
# ---------------------------------------------------------------------------

def _derived_spans(spark, sf_dir):
    """Span table derived from the flat driver documents table."""
    docs = load(spark, sf_dir, "documents", lift=True)
    return docs.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"))
         .alias("doc_id"),
        _sentence_spans(F.col("text")).alias("spans"))


def _sentence_spans(text):
    """``text`` split on '. ' into text spans, offset = sentence index."""
    return F.transform(
        F.split(text, r"\. "),
        lambda x, i: F.struct(
            F.lit("text").alias("kind"),
            x.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            i.cast("int").alias("offset")))


def _derived_spans_structured(spark, sf_dir):
    """Derived spans with synthetic heading spans: a sentence is a heading
    when (offset % 7 == 3) or when it's the first span of every third doc
    (the driver documents are single-sentence, so the doc_id rule guarantees
    headings exist at the gate); even doc_ids get a markdown '#'-run prefix
    of depth 1 + doc_id % 5 so both branches of the level heuristic are
    exercised."""
    # raw numeric id kept under a distinct name: the output aliases
    # 'doc_id' to the string form, and a lambda's outer reference would
    # otherwise resolve laterally against that alias
    docs = load(spark, sf_dir, "documents", lift=True).select(
        F.col("doc_id").alias("raw_id"), "text")
    hashes = F.repeat(F.lit("#"), (F.col("raw_id") % 5 + 1).cast("int"))
    is_h = (lambda i: (i % 7 == 3)
            | ((i == 0) & (F.col("raw_id") % 3 == 0)))
    return docs.select(
        F.concat(F.lit("doc_"), F.col("raw_id").cast("string"))
         .alias("doc_id"),
        F.transform(
            F.split(F.col("text"), r"\. "),
            lambda x, i: F.struct(
                F.when(is_h(i), F.lit("heading")).otherwise(F.lit("text"))
                 .alias("kind"),
                F.when(is_h(i) & (F.col("raw_id") % 2 == 0),
                       F.concat(hashes, F.lit(" "), x)).otherwise(x)
                 .alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                i.cast("int").alias("offset"))).alias("spans"))


_DUCK_STRUCTURED_SP = """
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, i - 1 AS off,
         CASE WHEN (i - 1) % 7 = 3 OR (i = 1 AND doc_id % 3 = 0)
              THEN 'heading' ELSE 'text' END AS kind,
         trim(regexp_replace(
             CASE WHEN ((i - 1) % 7 = 3 OR (i = 1 AND doc_id % 3 = 0))
                       AND doc_id % 2 = 0
                  THEN repeat('#', CAST(doc_id % 5 + 1 AS INTEGER))
                       || ' ' || parts[i]
                  ELSE parts[i] END,
             '\\s+', ' ', 'g')) AS text
  FROM (SELECT doc_id, string_split_regex(text, '\\. ') AS parts
        FROM documents) d,
       LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
"""

_DUCK_LEVEL = """
  CAST(CASE WHEN regexp_matches(text, '^#')
            THEN least(length(regexp_extract(text, '^#+')), 6)
            WHEN len(string_split(text, ' ')) <= 2 THEN 1
            WHEN len(string_split(text, ' ')) <= 4 THEN 2
            ELSE 3 END AS INTEGER)
"""

_DUCK_TITLE = """
  CASE WHEN regexp_matches(text, '^#')
       THEN trim(regexp_replace(text, '^#+', ''))
       ELSE text END
"""


def q_doc_structure(spark, sf_dir):
    """D6 HeaderInfo parity: (doc_id, level, title, page_num) with recovered
    heading levels (markdown '#'-run or word-count heuristic)."""
    from .plans.describe import document_structure
    return document_structure(_derived_spans_structured(spark, sf_dir))


def _oracle_doc_structure() -> str:
    return f"""
WITH sp AS ({_DUCK_STRUCTURED_SP})
SELECT doc_id, {_DUCK_LEVEL} AS level, {_DUCK_TITLE} AS title,
       CAST(off + 1 AS INTEGER) AS page_num
FROM sp WHERE kind = 'heading' AND text <> ''
"""


def q_full_description(spark, sf_dir):
    """The reference's front-door DocumentData artifact, flattened for the
    gate: (doc_id, full_text = '\\n\\n' join of kept text spans in reading
    order, n_headers)."""
    from .plans.describe import full_description
    out = full_description(_derived_spans_structured(spark, sf_dir))
    return out.select("doc_id", F.col("text").alias("full_text"),
                      F.size("headers").alias("n_headers"))


def _oracle_full_description() -> str:
    nav = spec.NAV_RE
    return f"""
WITH sp AS ({_DUCK_STRUCTURED_SP}),
kept AS (
  SELECT * FROM sp
  WHERE kind = 'text' AND text <> ''
    AND NOT regexp_matches(lower(text), '{nav}')
    AND (length(text) - length(replace(text, '|', '')))
        <= {spec.PIPE_RATIO} * len(string_split(text, ' '))
    AND (len(string_split(text, ' ')) >= {spec.MIN_WORDS}
         OR substr(text, length(text), 1) IN ('.', '!', '?'))
), t AS (
  SELECT doc_id, string_agg(text, chr(10) || chr(10) ORDER BY off)
         AS full_text
  FROM kept GROUP BY doc_id
), h AS (
  SELECT doc_id, count(*) AS n FROM sp
  WHERE kind = 'heading' AND text <> '' GROUP BY doc_id
), ids AS (
  SELECT DISTINCT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id FROM documents
)
SELECT ids.doc_id, coalesce(full_text, '') AS full_text,
       CAST(coalesce(n, 0) AS INTEGER) AS n_headers
FROM ids LEFT JOIN t USING (doc_id) LEFT JOIN h USING (doc_id)
"""


def q_pii_redact(spark, sf_dir):
    """PII scrubbing (emails -> IPs -> phones, counted and redacted); the
    input synthesizes deterministic PII per doc so every row exercises all
    three detectors."""
    from .datapipe.scrub import redact_pii
    d = load(spark, sf_dir, "documents", lift=True)
    t = F.concat(
        F.col("text"), F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 (555) 010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" via 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit("."), (F.col("doc_id") % 100).cast("string"), F.lit("."))
    return (redact_pii(d.select("doc_id", t.alias("text")))
            .select("doc_id", "n_emails", "n_ips", "n_phones", "redacted"))


def _oracle_pii_redact() -> str:
    from .datapipe.scrub import (EMAIL_RE, EMAIL_TOKEN, IP_RE, IP_TOKEN,
                                 PHONE_RE, PHONE_TOKEN)
    return f"""
WITH m AS (
  SELECT doc_id,
         text || ' Contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 (555) 010-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' via 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST(doc_id % 100 AS VARCHAR) || '.' AS t
  FROM documents
), s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS INTEGER)
           AS n_emails,
         regexp_replace(t, '{EMAIL_RE}', '{EMAIL_TOKEN}', 'g') AS t1
  FROM m
), s2 AS (
  SELECT doc_id, n_emails,
         CAST(len(regexp_extract_all(t1, '{IP_RE}')) AS INTEGER) AS n_ips,
         regexp_replace(t1, '{IP_RE}', '{IP_TOKEN}', 'g') AS t2
  FROM s1
)
SELECT doc_id, n_emails, n_ips,
       CAST(len(regexp_extract_all(t2, '{PHONE_RE}')) AS INTEGER)
         AS n_phones,
       regexp_replace(t2, '{PHONE_RE}', '{PHONE_TOKEN}', 'g') AS redacted
FROM s2
"""


def q_repetition(spark, sf_dir):
    """Gopher-style repetition stats; the text is self-concatenated so the
    duplicate-token detectors always have work."""
    from .datapipe.scrub import repetition_stats
    d = load(spark, sf_dir, "documents", lift=True)
    t = F.concat_ws(" ", F.col("text"), F.col("text"))
    return repetition_stats(d.select("doc_id", t.alias("text")))


ORACLE_REPETITION = """
WITH m AS (SELECT doc_id, text || ' ' || text AS text FROM documents),
toks AS (
  SELECT doc_id, t FROM (
    SELECT doc_id,
           unnest(string_split(lower(regexp_replace(trim(text), '\\s+', ' ',
                                                    'g')), ' ')) AS t
    FROM m) WHERE t <> ''
), per AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY doc_id, t),
s AS (SELECT doc_id, sum(c) AS n, count(*) AS u, max(c) AS top
      FROM per GROUP BY doc_id)
SELECT d.doc_id AS id,
       CAST(coalesce(n, 0) AS BIGINT) AS n_words,
       CAST(coalesce(u, 0) AS BIGINT) AS n_distinct,
       round(CASE WHEN coalesce(n, 0) > 0
             THEN 1.0 - CAST(u AS DOUBLE) / n ELSE 0 END, 6) AS dup_ratio,
       round(CASE WHEN coalesce(n, 0) > 0
             THEN CAST(top AS DOUBLE) / n ELSE 0 END, 6) AS top_word_ratio
FROM documents d LEFT JOIN s USING (doc_id)
"""


def q_simhash(spark, sf_dir):
    d = load(spark, sf_dir, "documents", lift=True).filter(F.col("doc_id") < 100)
    return simhash(d)


def _oracle_simhash(bits: int = 32, lim: int = 100) -> str:
    """DuckDB twin of datapipe.dedup.simhash: md5-prefix token hash, ±1 bit
    sums, majority fingerprint.  Hex parse via CAST('0x..' AS BIGINT)."""
    hexpr = f"CAST('0x' || substr(md5(token), 1, {bits // 4}) AS BIGINT)"
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (hx >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits))
    fp = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({2 ** i} AS BIGINT) ELSE 0 END)"
        for i in range(bits))
    return f"""
WITH toks AS ({_DUCK_TOKENS_WHERE.format(where=f'doc_id < {lim}')}
), hashed AS (SELECT id, {hexpr} AS hx FROM toks),
sums AS (SELECT id, {bit_sums} FROM hashed GROUP BY id)
SELECT id, CAST({fp} AS BIGINT) AS simhash FROM sums
"""


def _levels_docs(spark, sf_dir, lim: int = 200):
    """documents -> (doc_id, spans) with a deterministic >=6-digit
    identifier injected so scan finds targets (shared by the levels gate
    queries)."""
    d = load(spark, sf_dir, "documents", lift=True).filter(F.col("doc_id") < lim)
    d = d.withColumn("text", F.concat(
        F.col("text"), F.lit(" contract number "),
        (F.col("doc_id") + 7700000000).cast("string"), F.lit(" filed.")))
    return d.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"))
         .alias("doc_id"),
        F.transform(
            F.split(F.col("text"), r"\. "),
            lambda x, i: F.struct(
                F.lit("text").alias("kind"), x.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                i.cast("int").alias("offset"))).alias("spans"))


def _oracle_levels_verify(lim: int = 200, n_axes: int = 2) -> str:
    """DuckDB mirror of scan->resolve->verify over the derived spans.

    The engine is deterministic, so verify's majority vote is unanimous:
    the final registry is the scan registry with resolution=2,
    value = the digit run itself (normalize_ocr_digits of \\d{6,} is
    identity), context = substr(cleaned span, 1, 64), verified = true,
    confidence = 'N/N' — the vote operator's full tie/error semantics are
    separately gated by the `vote` entry and the ported unit suite.
    """
    nav = spec.NAV_RE
    return f"""
WITH base AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id,
         text || ' contract number ' ||
         CAST(doc_id + 7700000000 AS VARCHAR) || ' filed.' AS text
  FROM documents WHERE doc_id < {lim}
), sp AS (
  SELECT doc_id, i - 1 AS off,
         trim(regexp_replace(parts[i], '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS text
  FROM (SELECT doc_id, string_split_regex(text, '\\. ') AS parts
        FROM base) d,
       LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
), kept AS (
  SELECT * FROM sp
  WHERE text <> ''
    AND NOT regexp_matches(lower(text), '{nav}')
    AND (length(text) - length(replace(text, '|', '')))
        <= {spec.PIPE_RATIO} * len(string_split(text, ' '))
    AND (len(string_split(text, ' ')) >= {spec.MIN_WORDS}
         OR substr(text, length(text), 1) IN ('.', '!', '?'))
), runs AS (
  SELECT doc_id, CAST(off + 1 AS INTEGER) AS page_num,
         CAST(i - 1 AS INTEGER) AS run_idx, arr[i] AS raw,
         substr(text, 1, 64) AS context
  FROM (SELECT doc_id, off, text,
               regexp_extract_all(text, '\\d{{6,}}') AS arr FROM kept) r,
       LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i) g
), reg AS (
  SELECT doc_id, page_num,
         printf('digits run %d on page %d', run_idx, page_num) AS prompt,
         raw, context
  FROM runs
)
SELECT doc_id, page_num,
       'scan_' || CAST(page_num AS VARCHAR) || '_' ||
       substr(sha256(prompt), 1, 8) AS entity_id,
       prompt, CAST(2 AS INTEGER) AS resolution, raw AS value, context,
       CAST(TRUE AS BOOLEAN) AS verified,
       '{n_axes}/{n_axes}' AS confidence
FROM reg
"""


def _oracle_levels_verify_chunked(lim: int = 200, chunk: int = 96) -> str:
    """DuckDB mirror of the chunked verify, INCLUDING the full majority-vote
    semantics (vote groups, first-position tie-break, first-sample value and
    context, k/N confidence, verified = unanimity) — unlike the fan-out
    variant this cannot shortcut to 'unanimous by construction'."""
    nav = spec.NAV_RE
    return f"""
WITH base AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id,
         text || ' contract number ' ||
         CAST(doc_id + 7700000000 AS VARCHAR) || ' filed.' AS text
  FROM documents WHERE doc_id < {lim}
), sp AS (
  SELECT doc_id, i - 1 AS off,
         trim(regexp_replace(parts[i], '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS text
  FROM (SELECT doc_id, string_split_regex(text, '\\. ') AS parts
        FROM base) d,
       LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
), kept AS (
  SELECT * FROM sp
  WHERE text <> ''
    AND NOT regexp_matches(lower(text), '{nav}')
    AND (length(text) - length(replace(text, '|', '')))
        <= {spec.PIPE_RATIO} * len(string_split(text, ' '))
    AND (len(string_split(text, ' ')) >= {spec.MIN_WORDS}
         OR substr(text, length(text), 1) IN ('.', '!', '?'))
), reg AS (
  SELECT doc_id, CAST(off + 1 AS INTEGER) AS page_num,
         CAST(i - 1 AS INTEGER) AS run_idx, text,
         printf('digits run %d on page %d', CAST(i - 1 AS INTEGER),
                CAST(off + 1 AS INTEGER)) AS prompt
  FROM (SELECT doc_id, off, text,
               regexp_extract_all(text, '\\d{{6,}}') AS arr FROM kept) r,
       LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i) g
), samples AS (
  SELECT reg.*, ax.axis_idx,
         substr(text, 1, ax.axis_val * {chunk}) AS win
  FROM reg, (VALUES (0, 1), (1, 2), (2, 3)) ax(axis_idx, axis_val)
), sm AS (
  SELECT doc_id, page_num, prompt, axis_idx,
         arr2[run_idx + 1] AS value,
         CASE WHEN arr2[run_idx + 1] IS NOT NULL
              THEN substr(win, 1, 64) END AS context,
         coalesce(arr2[run_idx + 1], '__NO_DATA__') AS norm
  FROM (SELECT *, regexp_extract_all(win, '\\d{{6,}}') AS arr2
        FROM samples) v
), grp AS (
  SELECT doc_id, page_num, prompt, norm,
         count(*) AS votes, min(axis_idx) AS first_pos,
         arg_min(value, axis_idx) AS gvalue,
         arg_min(context, axis_idx) AS gcontext
  FROM sm GROUP BY 1, 2, 3, 4
), winner AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, prompt
            ORDER BY votes DESC, first_pos ASC) AS rn FROM grp
)
SELECT doc_id, page_num,
       'scan_' || CAST(page_num AS VARCHAR) || '_' ||
       substr(sha256(prompt), 1, 8) AS entity_id,
       prompt, CAST(2 AS INTEGER) AS resolution,
       CASE WHEN norm = '__NO_DATA__' THEN ''
            ELSE trim(coalesce(gvalue, '')) END AS value,
       gcontext AS context,
       CAST(votes = 3 AS BOOLEAN) AS verified,
       printf('%d/%d', votes, 3) AS confidence
FROM winner WHERE rn = 1
"""


# The driver's embeddings tables are 64-dim at every sf tier; the SRP planes
# are module-level so the DuckDB oracle can embed the same literals.
EMB_DIM = 64


def _srp_planes(seed: int, n_planes: int) -> list[list[float]]:
    import numpy as np
    return np.random.default_rng(seed).normal(
        size=(n_planes, EMB_DIM)).tolist()


_PLANES_LSH = _srp_planes(7, 6)
_PLANES_NEARDUP = _srp_planes(11, 8)


def _duck_bucket(planes: list[list[float]], vec: str = "v") -> str:
    """DuckDB twin of similarity.srp_buckets: bit p = (v . plane_p) >= 0;
    a NULL vector has no bit set (see ``_duck_cosine`` for the CASE)."""
    bits = []
    for p, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
        bits.append(f"(CASE WHEN list_inner_product({vec}, {lit}) >= 0 "
                    f"THEN {1 << p} ELSE 0 END)")
    return f"(CASE WHEN {vec} IS NULL THEN 0 ELSE {' + '.join(bits)} END)"


# two independent 8-plane bands for the multiband recall variant
_PLANE_BANDS = [_srp_planes(21, 8), _srp_planes(22, 8)]


def q_lsh_topk_multiband(spark, sf_dir):
    """Multi-band SRP ANN: candidates unioned over two independent plane
    sets — the recall knob that keeps per-band buckets small (and under the
    degenerate-bucket cap) as the corpus grows."""
    from .datapipe.similarity import lsh_topk_multiband
    e = load(spark, sf_dir, "embeddings", lift=True)
    return lsh_topk_multiband(e, _PLANE_BANDS, k=3)


def _oracle_lsh_topk_multiband(k: int = 3, max_bucket: int = 1000) -> str:
    per_band = []
    for band, planes in enumerate(_PLANE_BANDS):
        per_band.append(
            f"SELECT id, v, {band} AS band, {_duck_bucket(planes)} AS bucket "
            f"FROM e")
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
b0 AS ({' UNION ALL '.join(per_band)}),
sized AS (SELECT band, bucket FROM b0 GROUP BY band, bucket
          HAVING count(*) > 1 AND count(*) <= {max_bucket}),
b AS (SELECT b0.* FROM b0 JOIN sized USING (band, bucket)),
cand AS (
  SELECT a.id AS qid, c.id AS nbr_id,
         max({_duck_cosine("a.v", "c.v")}) AS cos
  FROM b a JOIN b c ON a.band = c.band AND a.bucket = c.bucket
                   AND a.id <> c.id
  GROUP BY a.id, c.id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY cos DESC, nbr_id ASC) AS rank
  FROM cand WHERE cos IS NOT NULL
)
SELECT qid, nbr_id, CAST(rank AS INTEGER) AS rank, round(cos, 6) AS cosine
FROM ranked WHERE rank <= {k}
"""


def q_ivf_topk(spark, sf_dir):
    """IVF-cell ANN with n_probe re-rank; deterministic md5-seeded centroid
    sample makes the whole operator SQL-expressible."""
    from .datapipe.similarity import ivf_topk
    e = load(spark, sf_dir, "embeddings", lift=True)
    return ivf_topk(e, n_centroids=16, n_probe=4, k=3)


def _oracle_ivf_topk(n_centroids: int = 16, n_probe: int = 4,
                     k: int = 3) -> str:
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
cents AS (SELECT id AS cid, v AS cvec FROM e
          ORDER BY md5(CAST(id AS VARCHAR)) LIMIT {n_centroids}),
scored AS (
  SELECT e.id, e.v, c.cid, {_duck_cosine("e.v", "c.cvec")} AS ccos
  FROM e CROSS JOIN cents c
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id
            ORDER BY ccos DESC, cid ASC) AS crank FROM scored
), assign AS (SELECT id, v, cid FROM ranked WHERE crank = 1),
probes AS (SELECT id AS qid, v AS va, cid FROM ranked
           WHERE crank <= {n_probe}),
cand AS (
  SELECT p.qid, a.id AS nbr_id, {_duck_cosine("p.va", "a.v")} AS cos
  FROM probes p JOIN assign a USING (cid) WHERE p.qid <> a.id
), rr AS (
  SELECT qid, nbr_id, cos, row_number() OVER (PARTITION BY qid
         ORDER BY cos DESC, nbr_id ASC) AS rank
  FROM cand WHERE cos IS NOT NULL
)
SELECT qid, nbr_id, CAST(rank AS INTEGER) AS rank, round(cos, 6) AS cosine
FROM rr WHERE rank <= {k}
"""


def q_near_dup_lsh(spark, sf_dir):
    """SRP-bucketed near-duplicate pairs — the 100-TB default path of
    embedding_near_dups, gated exactly via the seeded planes."""
    from .datapipe.similarity import embedding_near_dups
    e = load(spark, sf_dir, "embeddings", lift=True)
    return embedding_near_dups(e, threshold=0.3, planes=_PLANES_NEARDUP)


def _oracle_near_dup_lsh(threshold: float = 0.3,
                         max_bucket: int = 1000) -> str:
    bucket = _duck_bucket(_PLANES_NEARDUP)
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
b0 AS (SELECT id, v, {bucket} AS bucket FROM e),
sized AS (SELECT bucket FROM b0 GROUP BY bucket
          HAVING count(*) > 1 AND count(*) <= {max_bucket}),
b AS (SELECT b0.* FROM b0 JOIN sized USING (bucket)),
pairs AS (
  SELECT a.id AS id_a, c.id AS id_b,
         {_duck_cosine("a.v", "c.v")} AS cos
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.id < c.id
)
SELECT id_a, id_b, round(cos, 6) AS cosine
FROM pairs WHERE cos >= {threshold}
"""


def q_dedup_pipeline(spark, sf_dir):
    """End-to-end near-dup dedup at scale shape: MinHash-LSH proposes
    candidate pairs, exact shingle Jaccard disposes — the candidate pruning
    reaches the token join (no all-pairs stage anywhere)."""
    from .datapipe.dedup import minhash_band_buckets
    d = load(spark, sf_dir, "documents", lift=True).filter(F.col("doc_id") < 200)
    cand = minhash_candidate_pairs(
        minhash_band_buckets(d, n_hashes=8, rows_per_band=2, k=3))
    return (jaccard_pairs(d, candidates=cand, k=3)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def _oracle_dedup_pipeline() -> str:
    return f"""
WITH toks AS ({_DUCK_SHINGLES3.format(lim=200)}), sig AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
  FROM toks, (SELECT unnest(generate_series(0, 7)) AS seed) s
  GROUP BY id, seed
), bands AS (
  SELECT id, CAST(floor(seed / 2) AS INTEGER) AS band_idx,
         md5(string_agg(CAST(seed AS VARCHAR) || ':' || minhash, '|'
             ORDER BY CAST(seed AS VARCHAR) || ':' || minhash)) AS band_hash
  FROM sig GROUP BY id, floor(seed / 2)
), sized AS (
  SELECT band_idx, band_hash FROM bands GROUP BY band_idx, band_hash
  HAVING count(*) > 1 AND count(*) <= 1000
), b AS (SELECT bands.* FROM bands JOIN sized USING (band_idx, band_hash)),
cand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b
  FROM b a JOIN b c USING (band_idx, band_hash) WHERE a.id < c.id
), sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
inter AS (
  SELECT cand.id_a, cand.id_b, count(*) AS n_inter
  FROM cand JOIN toks t1 ON t1.id = cand.id_a
            JOIN toks t2 ON t2.id = cand.id_b AND t2.shingle = t1.shingle
  GROUP BY cand.id_a, cand.id_b
)
SELECT id_a, id_b,
       round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
"""


def q_dup_components(spark, sf_dir):
    """Transitive near-dup clustering: LSH -> exact Jaccard pairs ->
    connected components (min-label propagation).  The principled survivor
    policy (one keeper per component) next to curation's documented greedy
    rule; the oracle computes the same closure with a recursive CTE."""
    from .datapipe.dedup import duplicate_clusters
    d = load(spark, sf_dir, "documents", lift=True).filter(F.col("doc_id") < 200)
    return duplicate_clusters(d, threshold=0.3, n_hashes=8,
                              rows_per_band=2, k=3)


def _oracle_dup_components(threshold: float = 0.3) -> str:
    """Recursive-CTE twin of connected_components over the dedup_pipeline
    pair graph: reach(id, r) = ids reachable from id; component = min."""
    return f"""
WITH RECURSIVE toks AS ({_DUCK_SHINGLES3.format(lim=200)}), sig AS (
  SELECT id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
  FROM toks, (SELECT unnest(generate_series(0, 7)) AS seed) s
  GROUP BY id, seed
), bands AS (
  SELECT id, CAST(floor(seed / 2) AS INTEGER) AS band_idx,
         md5(string_agg(CAST(seed AS VARCHAR) || ':' || minhash, '|'
             ORDER BY CAST(seed AS VARCHAR) || ':' || minhash)) AS band_hash
  FROM sig GROUP BY id, floor(seed / 2)
), sized AS (
  SELECT band_idx, band_hash FROM bands GROUP BY band_idx, band_hash
  HAVING count(*) > 1 AND count(*) <= 1000
), b AS (SELECT bands.* FROM bands JOIN sized USING (band_idx, band_hash)),
cand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b
  FROM b a JOIN b c USING (band_idx, band_hash) WHERE a.id < c.id
), sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
inter AS (
  SELECT cand.id_a, cand.id_b, count(*) AS n_inter
  FROM cand JOIN toks t1 ON t1.id = cand.id_a
            JOIN toks t2 ON t2.id = cand.id_b AND t2.shingle = t1.shingle
  GROUP BY cand.id_a, cand.id_b
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= {threshold}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT DISTINCT src AS id, src AS r FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
)
SELECT id, min(r) AS component FROM reach GROUP BY id
"""


def q_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch per event_type (distinct users): the
    shuffle-light cardinality estimator — the sketch is exact arithmetic,
    so the ORACLE checks the estimates bit-for-bit, and the small-group
    exact path (n_exact < k) is exercised alongside the estimator path."""
    from .datapipe.sketches import kmv_estimate, kmv_sketch
    ev = load(spark, sf_dir, "events")
    sk = kmv_sketch(ev, "user_id", k=64, group_cols=["event_type"])
    return kmv_estimate(sk, k=64)


ORACLE_KMV = """
WITH u AS (
  SELECT event_type,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT)
           / 4503599627370496.0 AS u
  FROM events
), km AS (
  SELECT event_type,
         list_slice(list_sort(list(DISTINCT u)), 1, 64) AS kmins
  FROM u GROUP BY event_type
)
SELECT event_type,
       round(CASE WHEN len(kmins) < 64 THEN CAST(len(kmins) AS DOUBLE)
             ELSE 63.0 / kmins[64] END, 6) AS distinct_est
FROM km
"""


def q_cms_counts(spark, sf_dir):
    """Count-Min frequency estimates for a fixed probe set of users over
    the events stream: build is one (depth x width)-bounded aggregate,
    query joins the broadcast counter table; overcounts only."""
    from .datapipe.sketches import cms_build, cms_query
    ev = load(spark, sf_dir, "events")
    sk = cms_build(ev, "user_id", depth=4, width=256)
    probes = ev.select("user_id").filter(F.col("user_id") < 20).distinct()
    return cms_query(sk, probes, "user_id", depth=4, width=256) \
        .select(F.col("item").alias("user_id"), "est_count")


ORACLE_CMS = """
WITH h AS (
  SELECT user_id, d,
         CAST(CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' ||
                   CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT)
              % 256 AS INTEGER) AS bucket
  FROM events, (SELECT unnest(generate_series(0, 3)) AS d) ds
), sketch AS (
  SELECT d, bucket, count(*) AS cnt FROM h GROUP BY d, bucket
), probes AS (
  SELECT DISTINCT user_id FROM events WHERE user_id < 20
), ph AS (
  SELECT p.user_id, ds.d,
         CAST(CAST('0x' || substr(md5(CAST(ds.d AS VARCHAR) || ':' ||
                   CAST(p.user_id AS VARCHAR)), 1, 13) AS BIGINT)
              % 256 AS INTEGER) AS bucket
  FROM probes p, (SELECT unnest(generate_series(0, 3)) AS d) ds
)
SELECT ph.user_id, min(coalesce(s.cnt, 0)) AS est_count
FROM ph LEFT JOIN sketch s USING (d, bucket)
GROUP BY ph.user_id
"""


def q_hist_quantiles(spark, sf_dir):
    """Fixed-grid histogram p50/p95 of event value per type — the
    unbounded-group-safe quantile (bin counts shuffle, rows don't); exact
    oracle because the grid arithmetic is deterministic."""
    from .datapipe.sketches import histogram_quantiles
    ev = load(spark, sf_dir, "events")
    return histogram_quantiles(ev, "value", [0.5, 0.95], n_bins=128,
                               group_cols=["event_type"])


ORACLE_HIST_Q = """
WITH bounds AS (
  SELECT event_type, min(CAST(value AS DOUBLE)) AS lo,
         max(CAST(value AS DOUBLE)) AS hi
  FROM events GROUP BY event_type
), binned AS (
  SELECT e.event_type, b.lo, b.hi,
         CASE WHEN b.hi = b.lo THEN 0
              ELSE least(127, CAST(floor((CAST(e.value AS DOUBLE) - b.lo)
                                         / (b.hi - b.lo) * 128) AS INTEGER))
         END AS bin
  FROM events e JOIN bounds b USING (event_type)
), hist AS (
  SELECT event_type, lo, hi, bin, count(*) AS cnt
  FROM binned GROUP BY event_type, lo, hi, bin
), cum AS (
  SELECT *, sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS c,
         sum(cnt) OVER (PARTITION BY event_type) AS total
  FROM hist
), q AS (SELECT CAST(unnest([0.5, 0.95]) AS DOUBLE) AS q), pick AS (
  SELECT cum.*, q.q, q.q * total AS target,
         row_number() OVER (PARTITION BY event_type, q.q ORDER BY bin) AS rn
  FROM cum JOIN q ON cum.c >= q.q * cum.total
)
SELECT event_type, q,
       round(CASE WHEN hi = lo THEN lo
             ELSE lo + (bin + greatest(0.0, least(1.0,
                  (target - (c - cnt)) / cnt))) * ((hi - lo) / 128)
             END, 6) AS value
FROM pick WHERE rn = 1
"""


def q_media_features(spark, sf_dir):
    """Multimodal plumbing demo: documents' text bytes as fake payloads."""
    from .datapipe.multimodal import extract_media_features
    d = load(spark, sf_dir, "documents", lift=True).filter(F.col("doc_id") < 100)
    media = d.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"))
         .alias("doc_id"),
        F.concat(F.lit("img_"), F.col("doc_id").cast("string"))
         .alias("media_ref"),
        F.lit("image").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(F.lit(64).alias("width"), F.lit(48).alias("height"),
                 F.lit(None).cast("int").alias("duration_ms"),
                 F.lit("png").alias("format")).alias("meta"))
    return extract_media_features(media)


def _oracle_media_features(lim: int = 100) -> str:
    """DuckDB twin of the deterministic fake feature kernel: feature i is
    byte i of sha256(payload) / 256.0 (exact dyadic rational — no rounding
    needed); payload is the UTF-8 encoding of the text column."""
    def hv(e: str) -> str:
        return f"(strpos('0123456789abcdef', {e}) - 1)"

    feats = ",\n       ".join(
        f"CAST(({hv(f'substr(h, {2 * i + 1}, 1)')} * 16 + "
        f"{hv(f'substr(h, {2 * i + 2}, 1)')}) / 256.0 AS DOUBLE) AS feat{i}"
        for i in range(4))
    return f"""
WITH m AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id,
         'img_' || CAST(doc_id AS VARCHAR) AS media_ref,
         'image' AS media_type,
         sha256(text) AS h,
         CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
  FROM documents WHERE doc_id < {lim}
)
SELECT doc_id, media_ref, media_type, h AS payload_sha256, payload_bytes,
       {feats}
FROM m
"""


def oracle_extract_pipeline() -> str:
    nav = spec.NAV_RE
    return f"""
WITH sp AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc_id, i - 1 AS off,
         trim(regexp_replace(parts[i], '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS text
  FROM (SELECT doc_id, string_split_regex(text, '\\. ') AS parts
        FROM documents) d,
       LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
), kept AS (
  SELECT * FROM sp
  WHERE text <> ''
    AND NOT regexp_matches(lower(text), '{nav}')
    AND (length(text) - length(replace(text, '|', '')))
        <= {spec.PIPE_RATIO} * len(string_split(text, ' '))
    AND (len(string_split(text, ' ')) >= {spec.MIN_WORDS}
         OR substr(text, length(text), 1) IN ('.', '!', '?'))
)
SELECT doc_id, 'text' AS kind, text AS span_text,
       CAST(NULL AS VARCHAR) AS media_ref,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY off) - 1
            AS INTEGER) AS ord
FROM kept
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# Ordering note: the driver's CORRECTNESS snapshot samples the FIRST 50
# entries of this dict.  The 15 entries that had never (or only in r02)
# received an official driver row lead the dict as of round 4; fifteen
# trivially-green contract queries (3 rounds of green driver history)
# rotate to the tail.  All 65 remain oracled and are exercised by
# tools/check_contract.py regardless of position.
# ---------------------------------------------------------------------------
# Round-5 additions: retrieval ranking, curation caps, feature windows,
# change history, sub-document dup screening, robust summaries, phrase
# mining, tokenizer-training kernel.
# ---------------------------------------------------------------------------

# documents-tokenizer twins used by several round-5 oracles
_DUCK_WORDS = ("list_filter(string_split(lower(regexp_replace(trim(text), "
               "'[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), ' '), x -> x <> '')")


def q_bm25(spark, sf_dir):
    """BM25 ranked retrieval: top-20 docs for a 3-term query; posting-list
    sized shuffles only (see datapipe/search.py scale note)."""
    from .datapipe.search import bm25_search
    d = load(spark, sf_dir, "documents", lift=True)
    return bm25_search(d, ["vector", "stream", "merge"], k=20)


ORACLE_BM25 = f"""
WITH tf AS ({_DUCK_TF}
), dl AS (
  SELECT doc_id AS id, len({_DUCK_WORDS}) AS dl FROM documents
), stats AS (
  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
), post AS (
  SELECT * FROM tf WHERE token IN ('merge', 'stream', 'vector')
), dfreq AS (SELECT token, count(*) AS df FROM post GROUP BY token),
scored AS (
  SELECT p.id,
         CAST(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) *
              ((p.tf * CAST(2.2 AS DOUBLE)) /
               (p.tf + CAST(1.2 AS DOUBLE) *
                (1.0 - CAST(0.75 AS DOUBLE) +
                 CAST(0.75 AS DOUBLE) * l.dl / s.avgdl)))
              AS DECIMAL(20,8)) AS part
  FROM post p JOIN dfreq d USING (token) JOIN dl l ON p.id = l.id
  CROSS JOIN stats s
)
SELECT id, count(*) AS n_matched,
       round(CAST(sum(part) AS DOUBLE), 6) AS score
FROM scored GROUP BY id ORDER BY score DESC, id LIMIT 20
"""


def q_domain_cap(spark, sf_dir):
    """Per-source corpus cap: every source contributes at most 20 docs,
    chosen by salted-hash order (reproducible uniform subset)."""
    from .datapipe.sampling import cap_per_group
    d = load(spark, sf_dir, "documents", lift=True) \
        .select("doc_id", "source", "n_chars")
    return cap_per_group(d, cap=20)


ORACLE_DOMAIN_CAP = """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5('cap' || doc_id), doc_id) AS rn
  FROM documents)
WHERE rn <= 20
"""


def q_rolling_stats(spark, sf_dir):
    """Trailing-5-event rolling features per user (bounded ROWS frame,
    one exchange; decimal-accumulated mean)."""
    from .datapipe.sessions import rolling_stats
    ev = load(spark, sf_dir, "events")
    out = rolling_stats(ev, n=5)
    return out.select("user_id", "event_id",
                      F.unix_timestamp("ts").alias("ts_epoch"),
                      "n_window", "rolling_mean", "rolling_max")


ORACLE_ROLLING = """
SELECT user_id, event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
       count(value) OVER w AS n_window,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             / count(value) OVER w, 6) AS rolling_mean,
       round(max(value) OVER w, 6) AS rolling_max
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


def q_decayed_sum(spark, sf_dir):
    """Recency-weighted per-user activity (half-life 24h, fixed anchor)."""
    from .datapipe.sessions import decayed_sum
    ev = load(spark, sf_dir, "events")
    return decayed_sum(ev, half_life_hours=24.0,
                       anchor_ts="2024-07-01 00:00:00")


ORACLE_DECAYED = """
SELECT user_id, count(*) AS n_events,
       round(CAST(sum(CAST(value * pow(CAST(0.5 AS DOUBLE),
                 ((epoch(TIMESTAMP '2024-07-01 00:00:00') - epoch(ts))
                  / CAST(3600.0 AS DOUBLE)) / CAST(24.0 AS DOUBLE))
             AS DECIMAL(20,8))) AS DOUBLE), 6) AS decayed_value
FROM events GROUP BY user_id
"""


def q_scd2(spark, sf_dir):
    """SCD-2 validity intervals from the event log: one row per value
    episode per user, half-open [from, to) bounds, current row flagged."""
    from .datapipe.history import scd2_history
    ev = load(spark, sf_dir, "events")
    out = scd2_history(ev, key_col="user_id", value_col="event_type")
    return out.select("user_id", "value",
                      F.unix_timestamp("valid_from").alias("from_epoch"),
                      F.unix_timestamp("valid_to").alias("to_epoch"),
                      "is_current")


ORACLE_SCD2 = """
WITH o AS (
  SELECT user_id, ts, event_type AS value, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
), kept AS (
  SELECT * FROM o
  WHERE prev IS NULL OR prev <> value OR value IS NULL
)
SELECT user_id, value,
       CAST(floor(epoch(ts)) AS BIGINT) AS from_epoch,
       CAST(floor(epoch(lead(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id))) AS BIGINT)
         AS to_epoch,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM kept
"""


def q_containment(spark, sf_dir):
    """Sub-document duplication screen: token containment per pair
    (Jaccard under-scores a page embedded in a 100x larger doc)."""
    from .datapipe.dedup import containment_pairs
    d = load(spark, sf_dir, "documents", lift=True) \
        .filter(F.col("doc_id") < 20)
    return containment_pairs(d, k=1)


ORACLE_CONTAINMENT = f"""
WITH toks AS ({_DUCK_TOKENS_WHERE.format(where='doc_id < 20')}
), sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_inter,
       round(CAST(n_inter AS DOUBLE) / sa.sz, 6) AS containment_a,
       round(CAST(n_inter AS DOUBLE) / sb.sz, 6) AS containment_b
FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
"""


def q_winsorize(spark, sf_dir):
    """Winsorized per-type value summary: p05/p95 clamp + exact-decimal
    winsorized mean (heavy-tail-safe reporting)."""
    from .datapipe.outliers import winsorized_stats
    ev = load(spark, sf_dir, "events")
    return winsorized_stats(ev, "value", group_cols=["event_type"])


ORACLE_WINSORIZE = """
WITH bounds AS (
  -- bounds rounded to 6dp BEFORE clamping, mirroring winsorized_stats:
  -- a last-ulp quantile_cont vs percentile() drift must not feed the clamp
  SELECT event_type, round(quantile_cont(value, 0.05), 6) AS p_lo,
         round(quantile_cont(value, 0.95), 6) AS p_hi
  FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT e.event_type, count(*) AS n,
       round(min(b.p_lo), 6) AS p_lo, round(min(b.p_hi), 6) AS p_hi,
       round(CAST(sum(CAST(least(greatest(e.value, b.p_lo), b.p_hi)
                           AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS win_mean
FROM events e JOIN bounds b USING (event_type)
WHERE e.value IS NOT NULL
GROUP BY e.event_type
"""


def q_bigram_pmi(spark, sf_dir):
    """Collocation mining: top-50 adjacent bigrams by PMI (counts-only
    arithmetic; narrow zip_with pairing, two count aggregates)."""
    from .datapipe.terms import bigram_pmi
    d = load(spark, sf_dir, "documents", lift=True)
    return bigram_pmi(d, k=50, min_count=3)


ORACLE_BIGRAM_PMI = f"""
WITH docs AS (SELECT {_DUCK_WORDS} AS words FROM documents),
uni AS (
  SELECT w AS token, count(*) AS c
  FROM (SELECT unnest(words) AS w FROM docs) GROUP BY w
), total AS (SELECT sum(c) AS t FROM uni),
pairs AS (
  SELECT words[i] AS tok_x, words[i + 1] AS tok_y, count(*) AS n_pair
  FROM docs, LATERAL (SELECT unnest(generate_series(1, len(words) - 1))
                      AS i) g
  WHERE len(words) >= 2
  GROUP BY 1, 2
  HAVING count(*) >= 3
)
SELECT tok_x, tok_y, n_pair,
       round(ln((p.n_pair * total.t) / (ux.c * uy.c)), 6) AS pmi
FROM pairs p
JOIN uni ux ON ux.token = p.tok_x
JOIN uni uy ON uy.token = p.tok_y
CROSS JOIN total
ORDER BY pmi DESC, tok_x, tok_y LIMIT 50
"""


def q_bpe_pairs(spark, sf_dir):
    """One BPE merge round: corpus-wide adjacent character-pair counts
    inside words (the tokenizer-training kernel)."""
    from .datapipe.terms import bpe_pair_counts
    d = load(spark, sf_dir, "documents", lift=True)
    return bpe_pair_counts(d, k=50)


ORACLE_BPE_PAIRS = f"""
WITH words AS (
  SELECT unnest({_DUCK_WORDS}) AS w FROM documents
), pairs AS (
  SELECT substr(w, i, 1) AS sym_a, substr(w, i + 1, 1) AS sym_b
  FROM words, LATERAL (SELECT unnest(generate_series(1, length(w) - 1))
                       AS i) g
  WHERE length(w) >= 2
)
SELECT sym_a, sym_b, count(*) AS n FROM pairs GROUP BY 1, 2
ORDER BY n DESC, sym_a, sym_b LIMIT 50
"""


def q_incremental_dedup(spark, sf_dir):
    """Daily-ingest near-dup screening: band the NEW batch only (narrow
    map) and probe the stored corpus LSH index — never re-band the
    corpus.  Here the 'stored index' is built in-query from the older
    docs; in production it is the persisted band table."""
    from .datapipe.dedup import incremental_candidates, minhash_band_buckets
    d = load(spark, sf_dir, "documents", lift=True)
    new = d.filter(F.col("doc_id") < 100)
    index_docs = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 300))
    from pyspark import StorageLevel
    # production reads the band table from storage (two cheap scans: size
    # agg + probe join); built in-query it would re-band the index docs
    # twice, so cut once — released by the bench between passes
    index_bands = minhash_band_buckets(index_docs, n_hashes=8,
                                       rows_per_band=2, k=3) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    out = incremental_candidates(new, index_bands, n_hashes=8,
                                 rows_per_band=2, k=3)
    from .datapipe.cache import attach_cached_deps
    return attach_cached_deps(out, index_bands)


def _oracle_incremental() -> str:
    band = """
  SELECT id, CAST(floor(seed / 2) AS INTEGER) AS band_idx,
         md5(string_agg(CAST(seed AS VARCHAR) || ':' || minhash, '|'
             ORDER BY CAST(seed AS VARCHAR) || ':' || minhash)) AS band_hash
  FROM (
    SELECT id, seed,
           min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
    FROM ({toks}) t, (SELECT unnest(generate_series(0, 7)) AS seed) s
    GROUP BY id, seed)
  GROUP BY id, floor(seed / 2)
"""
    new_toks = _DUCK_SHINGLES3_WHERE.format(alias="id", src="documents",
                                            where="doc_id < 100")
    idx_toks = _DUCK_SHINGLES3_WHERE.format(
        alias="id", src="documents",
        where="doc_id >= 100 AND doc_id < 300")
    return f"""
WITH nb AS ({band.format(toks=new_toks)}),
ib AS ({band.format(toks=idx_toks)}),
sized AS (
  SELECT band_idx, band_hash FROM ib GROUP BY band_idx, band_hash
  HAVING count(*) <= 1000
), idx AS (SELECT ib.* FROM ib JOIN sized USING (band_idx, band_hash))
SELECT DISTINCT nb.id AS new_id, idx.id AS index_id
FROM nb JOIN idx USING (band_idx, band_hash)
WHERE nb.id <> idx.id
"""


def q_curriculum(spark, sf_dir):
    """Difficulty-decile assignment by length: quantile boundaries from
    ONE aggregate broadcast back — no ntile global sort."""
    from .datapipe.sampling import curriculum_buckets
    d = load(spark, sf_dir, "documents", lift=True) \
        .select("doc_id", "n_chars")
    return curriculum_buckets(d, "n_chars", n_buckets=10)


ORACLE_CURRICULUM = """
WITH b AS (
  SELECT quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5,
                                 0.6, 0.7, 0.8, 0.9]) AS bounds
  FROM documents)
SELECT doc_id, n_chars,
       CAST(len(list_filter(bounds, x -> n_chars > round(x, 6)))
            AS INTEGER) AS bucket
FROM documents, b
"""


def q_quality_clf(spark, sf_dir):
    """Model-based quality filter, deterministically: logistic score over
    the oracled text features (the FineWeb/CCNet 'trained filter' stage
    with fixed published weights)."""
    from .datapipe.textstats import quality_classifier
    d = load(spark, sf_dir, "documents", lift=True)
    return quality_classifier(d).select("doc_id", "clf_score", "clf_keep")


ORACLE_QUALITY_CLF = f"""
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) END
           AS n_tokens,
         length(text) - length(regexp_replace(text, '[^\\w \\t\\n\\x0b\\f\\r]', '', 'g'))
           AS n_punct,
         len(regexp_extract_all(lower(text),
             '\\b({"|".join(STOPWORDS)})\\b')) AS n_stop
  FROM documents
), r AS (
  SELECT doc_id, n_tokens,
         round(CASE WHEN n_tokens > 0
               THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0 END, 6)
           AS stop_r,
         round(CASE WHEN n_chars > 0
               THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0 END, 6)
           AS punct_r,
         round(CASE WHEN n_tokens > 0
               THEN CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens
               ELSE 0 END, 6) AS mwl
  FROM f
), z AS (
  SELECT doc_id,
         CAST(-1.0 AS DOUBLE) + stop_r * CAST(4.0 AS DOUBLE)
         + punct_r * CAST(-6.0 AS DOUBLE) + mwl * CAST(0.15 AS DOUBLE)
         + ln(n_tokens + CAST(1.0 AS DOUBLE)) * CAST(0.35 AS DOUBLE) AS z
  FROM r
)
SELECT doc_id,
       round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-z)), 6)
         AS clf_score,
       round(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-z)), 6)
         >= 0.5 AS clf_keep
FROM z
"""


def q_corpus_diff(spark, sf_dir):
    """Release-to-release snapshot diff: old = docs < 400, new = docs >=
    100 with the first 50 edited — statuses added / removed / changed /
    unchanged by content digest."""
    from .datapipe.report import corpus_diff
    d = load(spark, sf_dir, "documents", lift=True) \
        .select("doc_id", "text")
    old = d.filter(F.col("doc_id") < 400)
    new = d.filter(F.col("doc_id") >= 100).select(
        "doc_id",
        F.when(F.col("doc_id") < 150,
               F.concat(F.col("text"), F.lit(" edited")))
         .otherwise(F.col("text")).alias("text"))
    return corpus_diff(old, new)


ORACLE_CORPUS_DIFF = """
WITH a AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS od
  FROM documents WHERE doc_id < 400),
b AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(
             CASE WHEN doc_id < 150 THEN text || ' edited' ELSE text END
         ), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS nd
  FROM documents WHERE doc_id >= 100)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN od = nd THEN 'unchanged' ELSE 'changed' END AS status
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
"""


def q_key_skew(spark, sf_dir):
    """Pre-join skew diagnosis: top-20 heaviest user keys with share of
    total and ratio to the mean key population."""
    from .operators.skew import key_skew_report
    ev = load(spark, sf_dir, "events")
    return key_skew_report(ev, "user_id", k=20)


ORACLE_KEY_SKEW = """
WITH counts AS (
  SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n
  FROM events GROUP BY 1
), totals AS (SELECT sum(n) AS total, count(*) AS nkeys FROM counts)
SELECT key, n, round(CAST(n AS DOUBLE) / total, 6) AS share,
       round(CAST(n * nkeys AS DOUBLE) / total, 6) AS x_mean
FROM counts, totals
ORDER BY n DESC, key LIMIT 20
"""


def q_density_classify(spark, sf_dir):
    """Boilerpipe NumWordsRules content classification over derived
    sentence spans: the density-based keep signal (WSDM 2010 tree) next
    to the engine's pattern classifier."""
    from .operators.classify import density_classify
    docs = load(spark, sf_dir, "documents", lift=True)
    spans = (docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), r"\. ")).alias("offset", "raw"))
        .select("doc_id", "offset",
                F.trim(F.regexp_replace(F.col("raw"), r"\s+", " "))
                 .alias("text"),
                F.lit("text").alias("kind")))
    out = density_classify(spans)
    return out.select("doc_id", "offset", "n_words", "keep")


ORACLE_DENSITY = """
WITH sp AS (
  SELECT doc_id, i - 1 AS off,
         trim(regexp_replace(parts[i], '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS text
  FROM (SELECT doc_id, string_split_regex(text, '\\. ') AS parts
        FROM documents) d,
       LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
), f AS (
  SELECT doc_id, off,
         CASE WHEN text IS NULL THEN 0
              ELSE len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+'),
                                   x -> x <> '')) END AS n_words
  FROM sp
)
SELECT doc_id, off AS offset, CAST(n_words AS INTEGER) AS n_words,
       (n_words > 16
        OR coalesce(lead(n_words) OVER w, 0) > 15
        OR coalesce(lag(n_words) OVER w, 0) > 4) AS keep
FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY off)
"""


def q_unicode_norm(spark, sf_dir):
    """Unicode NFC fold: every doc gets a decomposed combining-mark
    suffix injected, then normalized — digests and char counts must agree
    with DuckDB's utf8proc NFC (the canonicalization pass multilingual
    dedup depends on)."""
    from .functions.normalize import normalize_unicode
    d = load(spark, sf_dir, "documents", lift=True).select("doc_id", "text")
    # explicit 'e' + U+0301 combining acute: the DECOMPOSED form NFC must
    # fold (Spark's char() is ASCII-mod-256, not a Unicode codepoint
    # constructor, so an escaped Python literal is the portable way)
    messy = d.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" cafe" + "\u0301")).alias("text"))
    out = normalize_unicode(messy, ["text"], form="NFC")
    return out.select("doc_id",
                      F.length("text").alias("n_chars_nfc"),
                      F.md5("text").alias("digest"))


ORACLE_UNICODE_NORM = """
SELECT doc_id,
       CAST(length(nfc_normalize(text || ' cafe' || chr(769))) AS BIGINT)
         AS n_chars_nfc,
       md5(nfc_normalize(text || ' cafe' || chr(769))) AS digest
FROM documents
"""


def q_passage_dedup(spark, sf_dir):
    """CCNet-style repeated-passage removal: every doc gets the same
    injected banner + footer sentences around its own unique content;
    the corpus-frequency pass drops the shared passages and reassembles
    the survivors in order."""
    from .datapipe.dedup import drop_repeated_passages
    d = load(spark, sf_dir, "documents", lift=True)
    enriched = d.select(
        "doc_id",
        F.concat(F.lit("Subscribe to our newsletter. "),
                 F.substring("text", 1, 80),
                 F.lit(". All rights reserved")).alias("text"))
    out = drop_repeated_passages(enriched, min_doc_freq=3)
    return out.select(F.col("id").alias("doc_id"), "clean_text",
                      "n_kept", "n_dropped")


ORACLE_PASSAGE_DEDUP = """
WITH docs2 AS (
  SELECT doc_id,
         'Subscribe to our newsletter. ' || substr(text, 1, 80)
         || '. All rights reserved' AS text
  FROM documents
), p AS (
  SELECT doc_id AS id, i - 1 AS pos, parts[i] AS passage,
         md5(lower(regexp_replace(trim(parts[i]), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')))
           AS digest
  FROM (SELECT doc_id, string_split_regex(text, '\\. ') AS parts
        FROM docs2) d,
       LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
), freq AS (
  SELECT digest, count(*) AS df
  FROM (SELECT DISTINCT id, digest FROM p) GROUP BY digest
), m AS (SELECT p.*, f.df FROM p JOIN freq f USING (digest))
SELECT id AS doc_id,
       coalesce(string_agg(CASE WHEN df < 3 THEN passage END, '. '
                           ORDER BY pos), '') AS clean_text,
       CAST(count(*) FILTER (df < 3) AS INTEGER) AS n_kept,
       CAST(count(*) FILTER (df >= 3) AS INTEGER) AS n_dropped
FROM m GROUP BY id
"""


# ===========================================================================
# r7 consolidation suites (VERDICT r6 item 1 / COVERAGE.md "r7 capacity
# plan").  The two-round rotation rule needs registry <= 100 = 2x the
# driver's 50-row window; flipping the 11 staged entries in would have
# pushed demand to 60 window rows and the registry to 110.  Each suite
# below UNIONs single-purpose entries into one tall tagged frame whose
# oracle is the UNION ALL of the constituent oracles — no capability
# loses its driver row (the keyword_search-absorbs-snippets precedent).
# The constituent q_*/ORACLE_* building blocks stay defined above and
# are exercised through the suites.
# ===========================================================================


def q_scalar_suite(spark, sf_dir):
    """Merged scalar-function suite: sanitize (F11) + fence_strip (F1) +
    json_extract (F2) + digit_norm (F8) + normalize_vote (F7) as one tall
    (op, id, s, n) frame.  r7 consolidation — each constituent held its
    own green driver row through r6."""
    def tag(df, op, idc, sc, nc):
        return df.select(
            F.lit(op).alias("op"),
            F.col(idc).cast("bigint").alias("id"),
            (F.col(sc) if sc else F.lit(None)).cast("string").alias("s"),
            (F.col(nc) if nc else F.lit(None)).cast("int").alias("n"))
    out = tag(q_sanitize(spark, sf_dir), "sanitize", "p_partkey",
              "fname", None)
    for part in (
            tag(q_fence_strip(spark, sf_dir), "fence_strip", "doc_id",
                "inner_text", None),
            tag(q_json_extract(spark, sf_dir), "json_extract", "event_id",
                None, "k"),
            tag(q_digit_norm(spark, sf_dir), "digit_norm", "event_id",
                "digits", None),
            tag(q_normalize_vote(spark, sf_dir), "normalize_vote", "doc_id",
                "norm", None)):
        out = out.unionByName(part)
    return out


ORACLE_SCALAR_SUITE = f"""
SELECT 'sanitize' AS op, CAST(p_partkey AS BIGINT) AS id, fname AS s,
       CAST(NULL AS INTEGER) AS n FROM ({ORACLE_SANITIZE}) t1
UNION ALL
SELECT 'fence_strip', CAST(doc_id AS BIGINT), inner_text,
       CAST(NULL AS INTEGER) FROM ({ORACLE_FENCE}) t2
UNION ALL
SELECT 'json_extract', CAST(event_id AS BIGINT), CAST(NULL AS VARCHAR), k
FROM ({ORACLE_JSON}) t3
UNION ALL
SELECT 'digit_norm', CAST(event_id AS BIGINT), digits,
       CAST(NULL AS INTEGER) FROM ({ORACLE_DIGIT_NORM}) t4
UNION ALL
SELECT 'normalize_vote', CAST(doc_id AS BIGINT), norm,
       CAST(NULL AS INTEGER) FROM ({ORACLE_NORMALIZE}) t5
"""


def q_agg_suite(spark, sf_dir):
    """Merged aggregation suite: status_counts (A3) + count_if (A5/A6) +
    distinct_users (A7) + first_per_key (W5) as one tall
    (op, key, n1, n2, s) frame."""
    def tag(df, op, keyc, n1c, n2c, sc):
        return df.select(
            F.lit(op).alias("op"),
            F.col(keyc).cast("string").alias("key"),
            (F.col(n1c) if n1c else F.lit(None)).cast("bigint").alias("n1"),
            (F.col(n2c) if n2c else F.lit(None)).cast("bigint").alias("n2"),
            (F.col(sc) if sc else F.lit(None)).cast("string").alias("s"))
    out = tag(q_status_counts(spark, sf_dir), "status_counts",
              "event_type", "n", None, None)
    for part in (
            tag(q_count_if(spark, sf_dir), "count_if", "event_type",
                "n_big", "n_small", None),
            tag(q_distinct_users(spark, sf_dir), "distinct_users",
                "event_type", "n_users", None, None),
            tag(q_first_per_key(spark, sf_dir), "first_per_key", "user_id",
                "first_event", None, "first_type")):
        out = out.unionByName(part)
    return out


ORACLE_AGG_SUITE = f"""
SELECT 'status_counts' AS op, event_type AS key, n AS n1,
       CAST(NULL AS BIGINT) AS n2, CAST(NULL AS VARCHAR) AS s
FROM ({ORACLE_STATUS}) t1
UNION ALL
SELECT 'count_if', event_type, n_big, n_small, CAST(NULL AS VARCHAR)
FROM ({ORACLE_COUNT_IF}) t2
UNION ALL
SELECT 'distinct_users', event_type, n_users, CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR) FROM ({ORACLE_DISTINCT}) t3
UNION ALL
SELECT 'first_per_key', CAST(user_id AS VARCHAR), first_event,
       CAST(NULL AS BIGINT), first_type FROM ({ORACLE_FIRST}) t4
"""


def q_membership_joins(spark, sf_dir):
    """Merged membership-join suite: semi_join (J6, page-membership
    filter) + anti_join (J7, resume exclusion) as one (op, key, n)
    frame (customer names are unique, so c_name keys the anti rows)."""
    semi = q_semi_join(spark, sf_dir).select(
        F.lit("semi").alias("op"),
        F.col("c_mktsegment").cast("string").alias("key"),
        F.col("n_customers").cast("bigint").alias("n"))
    anti = q_anti_join(spark, sf_dir).select(
        F.lit("anti").alias("op"),
        F.col("c_name").cast("string").alias("key"),
        F.col("c_custkey").cast("bigint").alias("n"))
    return semi.unionByName(anti)


ORACLE_MEMBERSHIP = f"""
SELECT 'semi' AS op, c_mktsegment AS key, n_customers AS n
FROM ({ORACLE_SEMI}) t1
UNION ALL
SELECT 'anti', c_name, CAST(c_custkey AS BIGINT) FROM ({ORACLE_ANTI}) t2
"""


def q_norm_dedupe(spark, sf_dir):
    """Merged sort+dedupe suite: page_normalize (P1 range-check +
    distinct) + union_dedupe (U3 explode(sequence) + union + distinct)."""
    a = q_page_normalize(spark, sf_dir).select(
        F.lit("page_normalize").alias("op"), F.col("page").cast("int"))
    b = q_union_dedupe(spark, sf_dir).select(
        F.lit("union_dedupe").alias("op"), F.col("page").cast("int"))
    return a.unionByName(b)


ORACLE_NORM_DEDUPE = f"""
SELECT 'page_normalize' AS op, CAST(page AS INTEGER) AS page
FROM ({ORACLE_PAGE_NORM}) t1
UNION ALL
SELECT 'union_dedupe', CAST(page AS INTEGER) FROM ({ORACLE_UNION}) t2
"""


def q_sample_suite(spark, sf_dir):
    """Merged sampling suite: det_sample (hash 25%) + strat_sample
    (per-language rebalance) + split_assign (80/10/10) as one
    (op, doc_id, tag) frame."""
    a = q_det_sample(spark, sf_dir).select(
        F.lit("det_sample").alias("op"), F.col("doc_id").cast("bigint"),
        F.lit(None).cast("string").alias("tag"))
    b = q_strat_sample(spark, sf_dir).select(
        F.lit("strat_sample").alias("op"), F.col("doc_id").cast("bigint"),
        F.col("lang").cast("string").alias("tag"))
    c = q_split_assign(spark, sf_dir).select(
        F.lit("split_assign").alias("op"), F.col("doc_id").cast("bigint"),
        F.col("split").cast("string").alias("tag"))
    return a.unionByName(b).unionByName(c)


def _oracle_sample_suite() -> str:
    return f"""
SELECT 'det_sample' AS op, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(NULL AS VARCHAR) AS tag FROM ({ORACLE_DET_SAMPLE}) t1
UNION ALL
SELECT 'strat_sample', CAST(doc_id AS BIGINT), lang
FROM ({ORACLE_STRAT_SAMPLE}) t2
UNION ALL
SELECT 'split_assign', CAST(doc_id AS BIGINT), split
FROM ({_oracle_split_assign()}) t3
"""


def q_levels_suite(spark, sf_dir):
    """Merged scan->resolve->verify suite: the axis fan-out form
    (levels_verify, unanimous by determinism) and the chunked form
    (levels_verify_chunked, axis = context window size, exercising the
    full majority-vote k/N semantics) as one mode-tagged frame.

    The two modes differ only at the verify stage, so the suite runs
    the regex-heavy scan->resolve chain ONCE over one persisted kept
    frame and fans verify out twice — the consolidation is cheaper
    than either constituent pair run separately (6.4 s -> ~4 s at
    sf0.1), not just fewer driver rows."""
    from pyspark import StorageLevel

    from .plans.levels import kept_text_spans, resolve, scan, verify
    docs = _levels_docs(spark, sf_dir)
    kept = kept_text_spans(docs).persist(StorageLevel.MEMORY_AND_DISK)
    reg = resolve(docs, scan(docs, kept=kept), kept=kept) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    a = verify(docs, reg, axes=(1, 3), kept=kept).select(
        F.lit("fanout").alias("mode"), "*")
    b = verify(docs, reg, axes=(1, 2, 3), kept=kept, axis_mode="chunk",
               axis_chunk_chars=96).select(
        F.lit("chunk").alias("mode"), "*")
    from .datapipe.cache import attach_cached_deps
    # register the persists so bench's release_all_cached() frees them
    # between passes — the published number stays COLD per pass
    return attach_cached_deps(a.unionByName(b), kept, reg)


def _oracle_levels_suite() -> str:
    return f"""
SELECT 'fanout' AS mode, * FROM ({_oracle_levels_verify()}) t1
UNION ALL
SELECT 'chunk' AS mode, * FROM ({_oracle_levels_verify_chunked()}) t2
"""


def q_extract_strategies(spark, sf_dir):
    """The extraction suite: ``extract`` (the Arrow kernel) over the derived
    spans, flattened via explode so the gate canonicalizer can hash it
    (empty docs contribute zero rows on both sides), strategy-tagged.  The
    declarative strategy's rows left with the declarative plan, so every
    row is tagged 'fused'; oracle = ``oracle_extract_pipeline``."""
    from .plans.extract import extract
    out = extract(_derived_spans(spark, sf_dir))
    return (out.select(F.lit("fused").alias("strategy"), "doc_id",
                       F.explode("spans").alias("s"))
            .select("strategy", "doc_id",
                    F.col("s.kind").alias("kind"),
                    F.col("s.text").alias("span_text"),
                    F.col("s.media_ref").alias("media_ref"),
                    F.col("s.order").alias("ord")))


def _oracle_extract_strategies() -> str:
    return f"""
SELECT 'fused' AS strategy, * FROM ({oracle_extract_pipeline()}) t1
"""


# ---------------------------------------------------------------------------
# The QUERIES / ORACLES registries are defined at the BOTTOM of this module
# (after the composed r7 entries below, which they reference).  The rotation
# rule and window arithmetic live there.
# ---------------------------------------------------------------------------





# ===========================================================================
# Composed entries: each runs several operators end to end.
# ===========================================================================

_BOILER_SENT = ("This work is licensed for research use only and must "
                "retain this notice in all copies.")


def q_drift_report(spark, sf_dir):
    """Composed corpus drift monitor: PSI (n_chars, reference-quantile
    bins), two-sample KS (n_chars) and chi-square (lang) between the
    even-doc_id and odd-doc_id halves of the corpus, as one tall
    (metric, key, n_ref, n_cur, value) frame."""
    from .datapipe.drift import chi_square_drift, ks_statistic, psi
    d = load(spark, sf_dir, "documents", lift=True)
    ref = d.filter(F.col("doc_id") % 2 == 0)
    cur = d.filter(F.col("doc_id") % 2 == 1)
    p = psi(ref, cur, "n_chars").select(
        F.lit("psi").alias("metric"),
        F.col("bin").cast("string").alias("key"),
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.col("psi_term").cast("double").alias("value"))
    k = ks_statistic(ref, cur, "n_chars").select(
        F.lit("ks").alias("metric"), F.lit("d_stat").alias("key"),
        F.col("n_a").alias("n_ref"), F.col("n_b").alias("n_cur"),
        F.col("d_stat").cast("double").alias("value"))
    c = chi_square_drift(ref, cur, "lang").select(
        F.lit("chi2").alias("metric"), F.col("category").alias("key"),
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.col("chi2_term").cast("double").alias("value"))
    return p.unionByName(k).unionByName(c)


ORACLE_DRIFT_REPORT = """
WITH ref AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
cur AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
e AS (
  SELECT list_transform(
      quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
      x -> round(x, 6)) AS qs
  FROM ref WHERE n_chars IS NOT NULL
), rc AS (
  SELECT len(list_filter(e.qs, q -> r.n_chars > q)) AS bin, count(*) AS n
  FROM ref r, e WHERE r.n_chars IS NOT NULL GROUP BY 1
), cc AS (
  SELECT len(list_filter(e.qs, q -> c.n_chars > q)) AS bin, count(*) AS n
  FROM cur c, e WHERE c.n_chars IS NOT NULL GROUP BY 1
), tot AS (
  SELECT (SELECT count(*) FROM ref WHERE n_chars IS NOT NULL) AS t_ref,
         (SELECT count(*) FROM cur WHERE n_chars IS NOT NULL) AS t_cur
), bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
psi_rows AS (
  SELECT 'psi' AS metric, CAST(b.bin AS VARCHAR) AS key,
         CAST(coalesce(rc.n, 0) AS BIGINT) AS n_ref,
         CAST(coalesce(cc.n, 0) AS BIGINT) AS n_cur,
         round(((coalesce(cc.n, 0) + 1.0) / (t.t_cur + 10)
                - (coalesce(rc.n, 0) + 1.0) / (t.t_ref + 10))
               * ln(((coalesce(cc.n, 0) + 1.0) / (t.t_cur + 10))
                    / ((coalesce(rc.n, 0) + 1.0) / (t.t_ref + 10))), 6)
           AS value
  FROM bins b LEFT JOIN rc ON rc.bin = b.bin
              LEFT JOIN cc ON cc.bin = b.bin, tot t
), ac AS (
  SELECT n_chars AS v, count(*) AS ca FROM ref
  WHERE n_chars IS NOT NULL GROUP BY 1
), bc AS (
  SELECT n_chars AS v, count(*) AS cb FROM cur
  WHERE n_chars IS NOT NULL GROUP BY 1
), mg AS (
  SELECT coalesce(ac.v, bc.v) AS v, coalesce(ca, 0) AS ca,
         coalesce(cb, 0) AS cb
  FROM ac FULL OUTER JOIN bc ON ac.v = bc.v
), cm AS (
  SELECT sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum_a,
         sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum_b,
         sum(ca) OVER () AS na, sum(cb) OVER () AS nb
  FROM mg
), ks_row AS (
  SELECT 'ks' AS metric, 'd_stat' AS key,
         CAST(max(na) AS BIGINT) AS n_ref,
         CAST(max(nb) AS BIGINT) AS n_cur,
         round(max(abs(cum_a / CAST(na AS DOUBLE)
                       - cum_b / CAST(nb AS DOUBLE))), 6) AS value
  FROM cm
), rc2 AS (
  SELECT lang AS category, count(*) AS n FROM ref
  WHERE lang IS NOT NULL GROUP BY 1
), cc2 AS (
  SELECT lang AS category, count(*) AS n FROM cur
  WHERE lang IS NOT NULL GROUP BY 1
), mg2 AS (
  SELECT coalesce(r.category, c.category) AS category,
         coalesce(r.n, 0) AS n_ref, coalesce(c.n, 0) AS n_cur
  FROM rc2 r FULL OUTER JOIN cc2 c ON r.category = c.category
), t2 AS (
  SELECT count(*) AS k, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM mg2
), chi_rows AS (
  SELECT 'chi2' AS metric, category AS key,
         CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
         round(pow(n_cur - (n_ref + 1.0) / (t.t_ref + t.k) * t.t_cur, 2)
               / ((n_ref + 1.0) / (t.t_ref + t.k) * t.t_cur), 6) AS value
  FROM mg2, t2 t
)
SELECT * FROM psi_rows
UNION ALL SELECT * FROM ks_row
UNION ALL SELECT * FROM chi_rows
"""


def q_gopher_report(spark, sf_dir):
    """Gopher-rule ablation report over the documents corpus: per named
    rule, documents failing it and documents failing it uniquely."""
    from .datapipe.docrules import gopher_rules, rule_report
    d = load(spark, sf_dir, "documents", lift=True)
    return rule_report(gopher_rules(d)).orderBy("rule")


ORACLE_GOPHER_REPORT = """
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
), w AS (
  SELECT *,
         CASE WHEN trim(t) = '' THEN []
              ELSE string_split_regex(trim(t), '[ \\t\\n\\x0b\\f\\r]+') END AS words,
         list_filter(string_split(t, chr(10)), x -> trim(x) <> '')
           AS lines
  FROM base
), c AS (
  SELECT *,
         CAST(len(words) AS BIGINT) AS n_words,
         list_sum(list_transform(words, x -> length(x))) AS word_chars,
         len(regexp_extract_all(t, '#'))
           + len(regexp_extract_all(t, '…'))
           + len(regexp_extract_all(t, '\\.\\.\\.')) AS n_symbols,
         CAST(len(lines) AS BIGINT) AS n_lines,
         len(list_filter(lines,
             x -> regexp_matches(trim(x), '^([-*•]|[0-9]+[.)])[ \\t\\n\\x0b\\f\\r]')))
           AS n_bullet,
         len(list_filter(lines,
             x -> regexp_matches(trim(x), '(\\.\\.\\.|…)$')))
           AS n_ellipsis,
         len(list_filter(words,
             x -> regexp_matches(x, '[A-Za-zА-яÀ-ÿ]'))) AS n_alpha,
         len(list_filter(['the','be','to','of','and','that','have','with'],
             s -> contains(' ' || lower(t) || ' ', ' ' || s || ' ')))
           AS stop_hits
  FROM w
), m AS (
  SELECT doc_id,
         n_words >= 50 AND n_words <= 100000 AS r_word_count,
         n_words > 0
           AND (CASE WHEN n_words = 0 THEN 0.0
                ELSE round(CAST(coalesce(word_chars, 0) AS DECIMAL(18,6))
                           / n_words, 6)::DOUBLE END) >= 3.0
           AND (CASE WHEN n_words = 0 THEN 0.0
                ELSE round(CAST(coalesce(word_chars, 0) AS DECIMAL(18,6))
                           / n_words, 6)::DOUBLE END) <= 10.0
           AS r_mean_word_len,
         (CASE WHEN n_words = 0 THEN 0.0
          ELSE round(CAST(n_symbols AS DECIMAL(18,6)) / n_words, 6)::DOUBLE
          END) <= 0.1 AS r_symbol_ratio,
         (CASE WHEN n_lines = 0 THEN 0.0
          ELSE round(CAST(n_bullet AS DECIMAL(18,6)) / n_lines, 6)::DOUBLE
          END) <= 0.9 AS r_bullet_lines,
         (CASE WHEN n_lines = 0 THEN 0.0
          ELSE round(CAST(n_ellipsis AS DECIMAL(18,6)) / n_lines, 6)::DOUBLE
          END) <= 0.3 AS r_ellipsis_lines,
         (CASE WHEN n_words = 0 THEN 0.0
          ELSE round(CAST(n_alpha AS DECIMAL(18,6)) / n_words, 6)::DOUBLE
          END) >= 0.8 AS r_alpha_words,
         stop_hits >= 2 AS r_stopwords
  FROM c
), f AS (
  SELECT *,
         (CASE WHEN NOT r_word_count THEN 1 ELSE 0 END)
         + (CASE WHEN NOT r_mean_word_len THEN 1 ELSE 0 END)
         + (CASE WHEN NOT r_symbol_ratio THEN 1 ELSE 0 END)
         + (CASE WHEN NOT r_bullet_lines THEN 1 ELSE 0 END)
         + (CASE WHEN NOT r_ellipsis_lines THEN 1 ELSE 0 END)
         + (CASE WHEN NOT r_alpha_words THEN 1 ELSE 0 END)
         + (CASE WHEN NOT r_stopwords THEN 1 ELSE 0 END) AS nf
  FROM m
), u AS (
  SELECT 'r_word_count' AS rule, NOT r_word_count AS fail, nf FROM f
  UNION ALL
  SELECT 'r_mean_word_len', NOT r_mean_word_len, nf FROM f
  UNION ALL SELECT 'r_symbol_ratio', NOT r_symbol_ratio, nf FROM f
  UNION ALL SELECT 'r_bullet_lines', NOT r_bullet_lines, nf FROM f
  UNION ALL SELECT 'r_ellipsis_lines', NOT r_ellipsis_lines, nf FROM f
  UNION ALL SELECT 'r_alpha_words', NOT r_alpha_words, nf FROM f
  UNION ALL SELECT 'r_stopwords', NOT r_stopwords, nf FROM f
)
SELECT rule,
       CAST(sum(CASE WHEN fail THEN 1 ELSE 0 END) AS BIGINT) AS n_fail,
       CAST(sum(CASE WHEN fail AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sole_fail
FROM u GROUP BY rule ORDER BY rule
"""


def q_url_report(spark, sf_dir):
    """URL provenance pipeline over deterministically synthesized URLs
    (the driver tables carry no URL column — same synthesized-input
    pattern as the PII entry): parse + canonicalize + URL-level dedup,
    reported per registered domain."""
    from .datapipe.weburl import url_dedup
    d = load(spark, sf_dir, "documents", lift=True)
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 11 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(".example.co.uk"))
         .otherwise(F.lit(".example.com")),
        F.lit("/p/"), (F.col("doc_id") % 23).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("?utm_source=a&id="),
                        (F.col("doc_id") % 50).cast("string")))
         .when(F.col("doc_id") % 4 == 1,
               F.concat(F.lit("?id="), (F.col("doc_id") % 50).cast("string")))
         .otherwise(F.lit("")))
    deduped = url_dedup(d.select("doc_id", url.alias("url")))
    return (deduped.groupBy("domain")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_survivors"),
                 F.sum("n_url_dups").cast("bigint").alias("n_rows"),
                 F.max("path_depth").cast("int").alias("max_depth")))


ORACLE_URL_REPORT = """
WITH u AS (
  SELECT doc_id,
         'https://'
         || CASE WHEN doc_id % 11 = 0 THEN 'WWW.' ELSE '' END
         || source
         || CASE WHEN doc_id % 7 = 0 THEN '.example.co.uk'
                 ELSE '.example.com' END
         || '/p/' || CAST(doc_id % 23 AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 4 = 0
                 THEN '?utm_source=a&id=' || CAST(doc_id % 50 AS VARCHAR)
                 WHEN doc_id % 4 = 1
                 THEN '?id=' || CAST(doc_id % 50 AS VARCHAR)
                 ELSE '' END AS url
  FROM documents
), p AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
           AS scheme,
         lower(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
         regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path0,
         regexp_extract(url, '\\?([^#]*)', 1) AS q0
  FROM u
), n AS (
  SELECT *,
         CASE WHEN regexp_replace(path0, '/$', '') = '' THEN '/'
              ELSE regexp_replace(path0, '/$', '') END AS npath,
         list_filter(string_split(q0, '&'),
                     x -> x <> '' AND NOT lower(string_split(x, '=')[1])
                          IN ('utm_source','utm_medium','utm_campaign',
                              'utm_term','utm_content','gclid','fbclid',
                              'ref','mc_cid','mc_eid')) AS keptq,
         regexp_replace(host, ':[0-9]+$', '') AS hname
  FROM p
), d2 AS (
  SELECT *,
         CASE WHEN q0 = '' OR len(keptq) = 0 THEN NULL
              ELSE array_to_string(keptq, '&') END AS query0,
         CASE WHEN string_split(hname, '.')[-2] || '.'
                   || string_split(hname, '.')[-1]
                   IN ('co.uk','org.uk','gov.uk','ac.uk','com.au','net.au',
                       'org.au','co.jp','ne.jp','or.jp','com.br','com.cn',
                       'com.mx','co.in','co.kr','co.za','com.tr','com.ar')
                   AND len(string_split(hname, '.')) >= 3
              THEN string_split(hname, '.')[-3] || '.'
                   || string_split(hname, '.')[-2] || '.'
                   || string_split(hname, '.')[-1]
              ELSE string_split(hname, '.')[-2] || '.'
                   || string_split(hname, '.')[-1] END AS domain,
         CAST(len(list_filter(string_split(
               CASE WHEN regexp_replace(path0, '/$', '') = '' THEN '/'
                    ELSE regexp_replace(path0, '/$', '') END, '/'),
               s -> s <> '')) AS INTEGER) AS path_depth
  FROM n
), canon AS (
  SELECT doc_id, domain, path_depth,
         scheme || '://' || regexp_replace(host, ':(80|443)$', '')
         || npath || coalesce('?' || query0, '') AS canonical_url
  FROM d2
), kept AS (
  SELECT domain, canonical_url, count(*) AS n_dups,
         min(path_depth) AS path_depth
  FROM canon GROUP BY 1, 2
)
SELECT domain, CAST(count(*) AS BIGINT) AS n_survivors,
       CAST(sum(n_dups) AS BIGINT) AS n_rows,
       max(path_depth) AS max_depth
FROM kept GROUP BY domain
"""


def q_interleaved_report(spark, sf_dir):
    """Interleaved text+media corpus report over spans derived from the
    documents table (every 5th sentence position becomes a media anchor
    with a 40-ref asset vocabulary, so refs recur across docs): corpus
    media usage + boilerplate flag joined with aggregated anchor text."""
    from .datapipe.interleaved import anchor_text, media_usage
    d = load(spark, sf_dir, "documents", lift=True)
    sp = d.select("doc_id", F.posexplode(
        F.split(F.col("text"), r"\. ")).alias("off", "raw"))
    is_media = (F.col("doc_id") * 37 + F.col("off")) % 5 == 0
    spans = sp.select(
        "doc_id", "off",
        F.when(is_media, F.lit("image")).otherwise(F.lit("text"))
         .alias("kind"),
        F.when(is_media, F.lit("")).otherwise(F.col("raw")).alias("text"),
        F.when(is_media,
               F.concat(F.lit("m_"),
                        ((F.col("doc_id") + F.col("off") * 13) % 40)
                        .cast("string"))).alias("media_ref"))
    usage = media_usage(spans, boiler_min_docs=40)
    anch = anchor_text(spans, max_chars=60)
    return usage.join(
        anch.select("media_ref", "top_caption", "caption_support"),
        "media_ref")


ORACLE_INTERLEAVED_REPORT = """
WITH sp AS (
  SELECT doc_id, i - 1 AS off, parts[i] AS raw
  FROM (SELECT doc_id, string_split_regex(text, '\\. ') AS parts
        FROM documents) d,
       LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
), spans AS (
  SELECT doc_id, off,
         CASE WHEN (doc_id * 37 + off) % 5 = 0 THEN 'image'
              ELSE 'text' END AS kind,
         CASE WHEN (doc_id * 37 + off) % 5 = 0 THEN '' ELSE raw END
           AS text,
         CASE WHEN (doc_id * 37 + off) % 5 = 0
              THEN 'm_' || CAST((doc_id + off * 13) % 40 AS VARCHAR)
         END AS media_ref
  FROM sp
), per_doc AS (
  SELECT media_ref, doc_id, count(*) AS n_in_doc
  FROM spans WHERE kind = 'image' AND media_ref IS NOT NULL
  GROUP BY 1, 2
), usage AS (
  SELECT media_ref, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_in_doc) AS BIGINT) AS n_refs,
         count(*) >= 40 AS is_boiler
  FROM per_doc GROUP BY 1
), cctx AS (
  SELECT doc_id, kind, media_ref, off,
         CASE WHEN kind = 'text' THEN
           substr(trim(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), 1, 60)
         END AS t
  FROM spans
), wdw AS (
  SELECT *,
         last_value(t IGNORE NULLS) OVER (
           PARTITION BY doc_id ORDER BY off
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bt,
         first_value(t IGNORE NULLS) OVER (
           PARTITION BY doc_id ORDER BY off
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS at
  FROM cctx
), caps AS (
  SELECT doc_id, media_ref, lower(coalesce(at, bt)) AS cap
  FROM wdw WHERE kind = 'image' AND media_ref IS NOT NULL
), by_cap AS (
  SELECT media_ref, cap, CAST(count(*) AS BIGINT) AS n
  FROM caps GROUP BY 1, 2
), top AS (
  SELECT media_ref, cap, n,
         row_number() OVER (PARTITION BY media_ref
           ORDER BY (cap IS NULL) ASC, n DESC, cap ASC) AS rk
  FROM by_cap
)
SELECT u.media_ref, u.n_docs, u.n_refs, u.is_boiler,
       t.cap AS top_caption,
       CASE WHEN t.cap IS NULL THEN CAST(0 AS BIGINT) ELSE t.n END
         AS caption_support
FROM usage u JOIN top t ON u.media_ref = t.media_ref AND t.rk = 1
"""


def q_substring_dedup(spark, sf_dir):
    """Lee-et-al substring dedup over the first 300 documents with a
    planted license sentence on every 7th doc: winnow fingerprints,
    corpus-repeated regions (keep-one canonical), excision.  Emits a
    digest of the cleaned text (the full text would dominate the
    comparator payload)."""
    from .datapipe.substring import excise_dup_substrings
    d = (load(spark, sf_dir, "documents", lift=True)
         .filter(F.col("doc_id") < 300))
    planted = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" " + _BOILER_SENT)))
        .otherwise(F.col("text")))
    out = excise_dup_substrings(planted, k=12, w=24)
    return out.select("doc_id", "dup_chars", "n_dup_regions",
                      F.md5(F.col("clean_text")).alias("clean_digest"))


ORACLE_SUBSTRING_DEDUP = f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' {_BOILER_SENT}' ELSE text END AS text
  FROM documents WHERE doc_id < 300
), g AS (
  SELECT doc_id, i AS pos,
         substr(md5(substr(text, i + 1, 12)), 1, 15) AS fp
  FROM planted,
       LATERAL (SELECT unnest(generate_series(0, length(text) - 12)) AS i)
  WHERE length(text) >= 12
), keyed AS (
  SELECT doc_id, pos, fp,
         fp || '#' || lpad(CAST(pos AS VARCHAR), 9, '0') AS fkey
  FROM g
), sel AS (
  SELECT DISTINCT doc_id,
         CAST(string_split(m, '#')[2] AS INTEGER) AS pos,
         string_split(m, '#')[1] AS fp
  FROM (SELECT doc_id,
               min(fkey) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS m
        FROM keyed)
), per_hash AS (
  SELECT fp, count(*) AS n_occ,
         min(struct_pack(doc_id := doc_id, pos := pos)) AS first_occ
  FROM sel GROUP BY fp
), marked AS (
  SELECT s.doc_id, s.pos AS start, s.pos + 12 AS "end"
  FROM sel s JOIN per_hash p USING (fp)
  WHERE p.n_occ >= 2
    AND NOT (s.doc_id = p.first_occ.doc_id AND s.pos = p.first_occ.pos)
), isl AS (
  SELECT *,
         CASE WHEN max("end") OVER (PARTITION BY doc_id ORDER BY start
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR start > max("end") OVER (PARTITION BY doc_id
                ORDER BY start
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 24
              THEN 1 ELSE 0 END AS new_isl
  FROM marked
), grp AS (
  SELECT *, sum(new_isl) OVER (PARTITION BY doc_id ORDER BY start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM isl
), regions AS (
  SELECT doc_id, CAST(min(start) AS INTEGER) AS start,
         CAST(max("end") AS INTEGER) AS "end"
  FROM grp GROUP BY doc_id, isl
), segs AS (
  SELECT doc_id,
         coalesce(lag("end") OVER (PARTITION BY doc_id ORDER BY start),
                  0) AS seg_start,
         start AS seg_end
  FROM regions
), head AS (
  SELECT s.doc_id,
         string_agg(substr(p.text, s.seg_start + 1,
                           greatest(s.seg_end - s.seg_start, 0)),
                    '' ORDER BY s.seg_start) AS h
  FROM segs s JOIN planted p USING (doc_id) GROUP BY s.doc_id
), stats AS (
  SELECT doc_id, CAST(sum("end" - start) AS BIGINT) AS dup_chars,
         CAST(count(*) AS BIGINT) AS n_dup_regions,
         max("end") AS last_end
  FROM regions GROUP BY doc_id
)
SELECT p.doc_id,
       CAST(coalesce(st.dup_chars, 0) AS BIGINT) AS dup_chars,
       CAST(coalesce(st.n_dup_regions, 0) AS BIGINT) AS n_dup_regions,
       md5(CASE WHEN st.doc_id IS NULL THEN p.text
            ELSE coalesce(h.h, '')
                 || substr(p.text, st.last_end + 1,
                           greatest(length(p.text) - st.last_end, 0))
            END) AS clean_digest
FROM planted p LEFT JOIN stats st USING (doc_id)
               LEFT JOIN head h ON h.doc_id = p.doc_id
"""


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embeddings table:
    md5-seeded clustering, within-cluster cosine pruning, keep the
    member least similar to its centroid.  One row per vector with its
    cluster, rounded centroid-cos and survival flag."""
    from .datapipe.select import semdedup
    e = load(spark, sf_dir, "embeddings", lift=True)
    return semdedup(e, n_clusters=16, threshold=0.9)


ORACLE_SEMDEDUP = f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
cents AS (SELECT id AS cid, v AS cvec FROM e
          ORDER BY md5(CAST(id AS VARCHAR)) LIMIT 16),
scored AS (SELECT e.id, e.v, c.cid,
                  {_duck_cosine("e.v", "c.cvec")} AS ccos
           FROM e CROSS JOIN cents c),
ranked AS (SELECT *, row_number() OVER (PARTITION BY id
                     ORDER BY ccos DESC, cid ASC) AS r FROM scored),
assign AS (SELECT id, v, cid, round(ccos, 6) AS cent_cos
           FROM ranked WHERE r = 1),
sized AS (SELECT cid FROM assign GROUP BY cid
          HAVING count(*) > 1 AND count(*) <= 1000),
p AS (SELECT a.* FROM assign a JOIN sized USING (cid)),
dropped AS (
  SELECT DISTINCT a.id FROM p a JOIN p b USING (cid)
  WHERE a.id <> b.id
    AND round({_duck_cosine("a.v", "b.v")}, 6) >= 0.9
    AND (b.cent_cos < a.cent_cos
         OR (b.cent_cos = a.cent_cos AND b.id < a.id)))
SELECT a.id AS vec_id, a.cid, a.cent_cos, d.id IS NULL AS is_kept
FROM assign a LEFT JOIN dropped d USING (id)
"""


def q_dsir_select(spark, sf_dir):
    """DSIR (Xie et al. 2023): hashed unigram+bigram importance
    log-weights toward the English subset, Gumbel-top-k resampling with
    deterministic md5 noise."""
    from .datapipe.select import dsir_select
    d = load(spark, sf_dir, "documents", lift=True)
    return dsir_select(d, F.col("lang") == "en", k=100, n_buckets=512)


ORACLE_DSIR_SELECT = """
WITH base AS (
  SELECT doc_id AS id,
         list_filter(string_split(lower(regexp_replace(trim(text),
                     '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), ' '), x -> x <> '') AS ws,
         (lang = 'en') AS is_t
  FROM documents),
feats0 AS (
  SELECT id, unnest(ws) AS feat, is_t FROM base
  UNION ALL
  SELECT id, unnest(CASE WHEN len(ws) >= 2 THEN list_transform(
             generate_series(1, len(ws) - 1),
             i -> ws[i] || ' ' || ws[i + 1])
         ELSE [] END) AS feat, is_t FROM base),
f AS (SELECT id, CAST(CAST('0x' || substr(md5(feat), 1, 8) AS BIGINT)
             % 512 AS INTEGER) AS bucket, any_value(is_t) AS is_t,
             count(*) AS n
      FROM feats0 GROUP BY id, bucket),
raw_b AS (SELECT bucket, sum(n) AS cr FROM f GROUP BY bucket),
tgt_b AS (SELECT bucket, sum(n) AS ct FROM f WHERE is_t GROUP BY bucket),
rt AS (SELECT sum(cr) AS tr FROM raw_b),
tt AS (SELECT sum(ct) AS tt FROM tgt_b),
lrt AS (
  SELECT r.bucket,
         round(ln(((coalesce(t.ct, 0) + 1.0) / (tt.tt + 1.0 * 512))
                  / ((r.cr + 1.0) / (rt.tr + 1.0 * 512))), 12) AS lr
  FROM raw_b r LEFT JOIN tgt_b t USING (bucket)
  CROSS JOIN rt CROSS JOIN tt),
w AS (
  SELECT id, CAST(sum(n) AS BIGINT) AS n_feats,
         round(CAST(sum(CAST(n * lr AS DECIMAL(24,10))) AS DOUBLE), 6)
           AS logw
  FROM f JOIN lrt USING (bucket) GROUP BY id)
SELECT id, n_feats, logw,
       round(logw + -ln(-ln(
         CAST('0x' || substr(md5('dsir' || CAST(id AS VARCHAR)), 1, 12)
              AS BIGINT) / 281474976710656.0)), 6) AS _skey
FROM w ORDER BY _skey DESC, id ASC LIMIT 100
"""


def q_rake(spark, sf_dir):
    """RAKE keyword extraction (Rose et al. 2010): per-doc top-3
    multi-word phrases by summed member deg/freq ratios."""
    from .datapipe.terms import rake_phrases
    d = load(spark, sf_dir, "documents", lift=True).filter(F.col("doc_id") < 300)
    return rake_phrases(d, k=3, max_phrase_len=4)


def _oracle_rake(k: int = 3, maxlen: int = 4) -> str:
    from .datapipe.textstats import STOPWORDS
    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id AS id,
         list_filter(string_split(lower(regexp_replace(trim(text),
                     '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')), ' '), x -> x <> '') AS ws
  FROM documents WHERE doc_id < 300),
toks0 AS (
  SELECT id, unnest(list_transform(generate_series(1, len(ws)),
             i -> struct_pack(p := i, t := ws[i]))) AS u
  FROM base),
toks AS (
  SELECT id, u.p AS pos, u.t AS token,
         (u.t IN ({stops}) OR NOT regexp_matches(u.t, '^[a-z]+$'))
           AS is_b
  FROM toks0),
runs AS (
  SELECT id, pos, token,
         sum(CASE WHEN is_b THEN 1 ELSE 0 END)
           OVER (PARTITION BY id ORDER BY pos) AS island
  FROM toks QUALIFY NOT is_b),
phrases AS (
  SELECT id, island, string_agg(token, ' ' ORDER BY pos) AS phrase,
         count(*) AS n_words
  FROM runs GROUP BY id, island
  HAVING count(*) <= {maxlen}),
members AS (
  SELECT r.id, r.island, r.token, p.n_words
  FROM runs r JOIN phrases p USING (id, island)),
wstats AS (
  SELECT id, token,
         round(CAST(sum(n_words) AS DOUBLE) / count(*), 12) AS ratio
  FROM members GROUP BY id, token),
scored0 AS (
  SELECT m.id, m.island,
         round(CAST(sum(CAST(w.ratio AS DECIMAL(24,12))) AS DOUBLE), 6)
           AS score
  FROM members m JOIN wstats w USING (id, token)
  GROUP BY m.id, m.island),
scored AS (
  SELECT s.id, p.phrase, max(p.n_words) AS nw, max(s.score) AS score
  FROM scored0 s JOIN phrases p USING (id, island)
  GROUP BY s.id, p.phrase),
ranked AS (
  SELECT id, phrase, CAST(nw AS INTEGER) AS n_words, score,
         CAST(row_number() OVER (PARTITION BY id
              ORDER BY score DESC, phrase ASC) AS INTEGER) AS rank
  FROM scored)
SELECT * FROM ranked WHERE rank <= {k}
"""


def q_lsh_multiprobe(spark, sf_dir):
    """Multi-probe SRP ANN: the query also probes the buckets reached
    by flipping its 2 least-confident sign bits — multiband recall at
    single-table index size."""
    from .datapipe.similarity import lsh_topk_multiprobe
    e = load(spark, sf_dir, "embeddings", lift=True)
    return lsh_topk_multiprobe(e, _PLANES_LSH, k=3, n_flip=2)


def _oracle_lsh_multiprobe(planes=None, k: int = 3, n_flip: int = 2,
                           max_bucket: int = 1000) -> str:
    planes = planes or _PLANES_LSH
    bucket = _duck_bucket(planes)
    ms = ", ".join(
        "struct_pack(m := CASE WHEN v IS NOT NULL THEN "
        "abs(list_inner_product(v, ["
        + ", ".join(repr(float(x)) for x in plane)
        + f"])) END, i := {p})"
        for p, plane in enumerate(planes))
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
d AS (SELECT id, v, {bucket} AS bucket, [{ms}] AS ms FROM e),
f AS (SELECT id, v, bucket,
             list_concat([bucket], list_transform(
               list_sort(ms)[1:{n_flip}],
               s -> xor(bucket, (1 << s.i)))) AS probes
      FROM d),
sized AS (SELECT bucket FROM d GROUP BY bucket
          HAVING count(*) <= {max_bucket}),
data AS (SELECT d.id, d.v, d.bucket FROM d JOIN sized USING (bucket)),
q AS (SELECT id AS qid, v AS va, unnest(probes) AS bucket FROM f),
cand AS (
  SELECT q.qid, a.id AS nbr_id,
         max({_duck_cosine("q.va", "a.v")}) AS cos
  FROM q JOIN data a USING (bucket) WHERE q.qid <> a.id
  GROUP BY q.qid, a.id
), rr AS (
  SELECT qid, nbr_id, cos, row_number() OVER (PARTITION BY qid
         ORDER BY cos DESC, nbr_id ASC) AS rank
  FROM cand WHERE cos IS NOT NULL
)
SELECT qid, nbr_id, CAST(rank AS INTEGER) AS rank, round(cos, 6) AS cosine
FROM rr WHERE rank <= {k}
"""


def q_extract_diff(spark, sf_dir):
    """Extraction regression diff: run A = sentence spans from the
    documents table; run B = the same extractor with two planted
    deterministic regressions (doc_id % 7: second span dropped;
    doc_id % 11: first span text rewritten).  The diff reports, per
    doc, the judged span-sequence-equality verdict at scale."""
    from .operators.regression import extraction_diff
    docs = load(spark, sf_dir, "documents", lift=True)
    parts = F.split(F.col("text"), r"\. ")
    clean = lambda x: F.trim(F.regexp_replace(x, r"\s+", " "))  # noqa: E731

    def span_a(x, i):
        return F.struct(F.lit("text").alias("kind"),
                        clean(x).alias("text"),
                        F.lit(None).cast("string").alias("media_ref"),
                        i.cast("int").alias("offset"))

    def span_b(x, i):
        txt = F.when((F.col("doc_id") % 11 == 0) & (i == 0),
                     F.concat(F.lit("v2 "), clean(x))).otherwise(clean(x))
        return F.struct(F.lit("text").alias("kind"), txt.alias("text"),
                        F.lit(None).cast("string").alias("media_ref"),
                        i.cast("int").alias("offset"))

    run_a = docs.select("doc_id", F.transform(parts, span_a).alias("spans"))
    run_b = docs.select(
        "doc_id",
        F.filter(F.transform(parts, span_b),
                 lambda s: ~((F.col("doc_id") % 7 == 0)
                             & (s["offset"] == 1))).alias("spans"))
    return extraction_diff(run_a, run_b)


ORACLE_EXTRACT_DIFF = """
WITH base AS (
  SELECT doc_id, string_split_regex(text, '\\. ') AS parts
  FROM documents),
a AS (
  SELECT doc_id, list_transform(parts, x -> struct_pack(
           kind := 'text',
           text := trim(regexp_replace(x, '[ \\t\\n\\x0b\\f\\r]+', ' ',
                                       'g')),
           media_ref := CAST(NULL AS VARCHAR))) AS sa
  FROM base),
b0 AS (
  SELECT doc_id, list_transform(generate_series(1, len(parts)),
           i -> struct_pack(
             i := i,
             kind := 'text',
             text := CASE WHEN doc_id % 11 = 0 AND i = 1
                     THEN 'v2 ' || trim(regexp_replace(parts[i],
                          '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))
                     ELSE trim(regexp_replace(parts[i],
                          '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) END,
             media_ref := CAST(NULL AS VARCHAR))) AS l
  FROM base),
b AS (
  SELECT doc_id, list_transform(
           list_filter(l, s -> NOT (doc_id % 7 = 0 AND s.i = 2)),
           s -> struct_pack(kind := s.kind, text := s.text,
                            media_ref := s.media_ref)) AS sb
  FROM b0),
j AS (SELECT a.doc_id, sa, sb FROM a JOIN b USING (doc_id)),
d AS (
  -- this DuckDB's list_position yields 0 (not NULL) on no-match;
  -- NULLIF normalizes both conventions to NULL = "no difference"
  SELECT doc_id, sa, sb,
         NULLIF(list_position(list_transform(
           generate_series(1, greatest(len(sa), len(sb))),
           i -> (sa[i] IS NOT DISTINCT FROM sb[i])), false), 0) AS fb
  FROM j)
SELECT doc_id,
       CASE WHEN sa IS NULL THEN 'only_b'
            WHEN sb IS NULL THEN 'only_a'
            WHEN fb IS NULL THEN 'equal'
            ELSE 'diverged' END AS status,
       CAST(len(sa) AS INTEGER) AS n_a,
       CAST(len(sb) AS INTEGER) AS n_b,
       CAST(fb - 1 AS INTEGER) AS first_diff
FROM d
"""


def q_hybrid_search(spark, sf_dir):
    """RRF hybrid retrieval: BM25 lexical ranking fused with the cosine
    neighborhood of vec_id 0's embedding; rank-only fusion needs no
    score calibration."""
    from .datapipe.search import hybrid_search_rrf
    d = load(spark, sf_dir, "documents", lift=True)
    e = load(spark, sf_dir, "embeddings", lift=True)
    return hybrid_search_rrf(d, e, ["vector", "stream", "merge"],
                             query_vec_id=0, k=15, k_each=50)


# the tokenizer regexes use the explicit Java \s class per the r6
# whitespace policy (test_staged_fuzz)
_WS = "[ \\t\\n\\x0b\\f\\r]+"
ORACLE_HYBRID_SEARCH = f"""
WITH tf AS (
  SELECT id, token, count(*) AS tf FROM (
    SELECT doc_id AS id,
           unnest(string_split(lower(regexp_replace(trim(text), '{_WS}',
                                                    ' ', 'g')), ' '))
             AS token
    FROM documents) WHERE token <> '' GROUP BY id, token
), dl AS (
  SELECT doc_id AS id,
         len(list_filter(string_split(lower(regexp_replace(trim(text),
             '{_WS}', ' ', 'g')), ' '), x -> x <> '')) AS dl
  FROM documents
), stats AS (
  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
), post AS (
  SELECT * FROM tf WHERE token IN ('merge', 'stream', 'vector')
), dfreq AS (SELECT token, count(*) AS df FROM post GROUP BY token),
parts AS (
  SELECT p.id,
         CAST(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) *
              ((p.tf * CAST(2.2 AS DOUBLE)) /
               (p.tf + CAST(1.2 AS DOUBLE) *
                (1.0 - CAST(0.75 AS DOUBLE) +
                 CAST(0.75 AS DOUBLE) * l.dl / s.avgdl)))
              AS DECIMAL(20,8)) AS part
  FROM post p JOIN dfreq d USING (token) JOIN dl l ON p.id = l.id
  CROSS JOIN stats s
), bm AS (
  SELECT id, round(CAST(sum(part) AS DOUBLE), 6) AS score
  FROM parts GROUP BY id ORDER BY score DESC, id LIMIT 50
), lex AS (
  SELECT id, CAST(row_number() OVER (ORDER BY score DESC, id)
                  AS INTEGER) AS lex_rank
  FROM bm
), e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
qv AS (SELECT v AS qvec FROM e WHERE id = 0),
cos AS (
  SELECT e.id, {_duck_cosine("q.qvec", "e.v")} AS cosine
  FROM e CROSS JOIN qv q WHERE e.id <> 0
), sem AS (
  SELECT id, CAST(row_number() OVER (ORDER BY cosine DESC, id)
                  AS INTEGER) AS sem_rank
  FROM cos WHERE cosine IS NOT NULL ORDER BY cosine DESC, id LIMIT 50
), fused AS (
  SELECT coalesce(l.id, s.id) AS id, l.lex_rank, s.sem_rank,
         round(coalesce(1.0 / (60 + l.lex_rank), 0)
               + coalesce(1.0 / (60 + s.sem_rank), 0), 6) AS rrf
  FROM lex l FULL OUTER JOIN sem s ON l.id = s.id
)
SELECT id, lex_rank, sem_rank, rrf FROM fused
ORDER BY rrf DESC, id LIMIT 15
"""


def q_pq_topk(spark, sf_dir):
    """IVFADC+R product-quantized ANN (Jegou/Douze/Schmid 2011) over the
    embeddings table: md5-seeded coarse cells and per-subquantizer
    codebooks, ADC shortlist of 32, exact-cosine re-ranked top-3."""
    from .datapipe.similarity import ivf_pq_topk
    e = load(spark, sf_dir, "embeddings", lift=True)
    return ivf_pq_topk(e, k=3, m_sub=16, rerank=32)


def _oracle_pq_topk(n_centroids: int = 16, n_probe: int = 4, k: int = 3,
                    m_sub: int = 16, n_codes: int = 16,
                    rerank: int = 32) -> str:
    return f"""
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
cents AS (SELECT id AS cid, v AS cvec FROM e
          ORDER BY md5(CAST(id AS VARCHAR)) LIMIT {n_centroids}),
cscored AS (
  SELECT e.id, c.cid, {_duck_cosine("e.v", "c.cvec")} AS ccos
  FROM e CROSS JOIN cents c
), cranked AS (
  SELECT *, row_number() OVER (PARTITION BY id
            ORDER BY ccos DESC, cid ASC) AS crank FROM cscored
), assign AS (SELECT id, cid FROM cranked WHERE crank = 1),
probes AS (SELECT id AS qid, cid FROM cranked WHERE crank <= {n_probe}),
ms AS (SELECT unnest(generate_series(0, {m_sub - 1})) AS m),
ckeys AS (
  SELECT m, id,
         row_number() OVER (PARTITION BY m ORDER BY
           md5('pq' || CAST(m AS VARCHAR) || ':' || CAST(id AS VARCHAR)))
           AS j
  FROM e CROSS JOIN ms
), cb AS (
  SELECT ck.m, CAST(ck.j AS INTEGER) AS j,
         array_slice(e.v, ck.m * (len(e.v) // {m_sub}) + 1,
                     (ck.m + 1) * (len(e.v) // {m_sub})) AS cw
  FROM ckeys ck JOIN e USING (id) WHERE ck.j <= {n_codes}
), cb2 AS (
  SELECT m, j, cw,
         CASE WHEN cw IS NULL THEN NULL ELSE list_inner_product(cw, cw) END
           AS c2
  FROM cb
),
subs AS (
  SELECT e.id, m.m,
         array_slice(e.v, m.m * (len(e.v) // {m_sub}) + 1,
                     (m.m + 1) * (len(e.v) // {m_sub})) AS sub
  FROM e CROSS JOIN ms m
), escore AS (
  SELECT s.id, s.m, cb2.j, cb2.c2,
         CASE WHEN s.sub IS NULL OR cb2.cw IS NULL THEN NULL
              ELSE cb2.c2 - 2 * list_inner_product(s.sub, cb2.cw) END
           AS score
  FROM subs s JOIN cb2 USING (m)
), codes AS (
  SELECT id, m, j, c2, score FROM (
    SELECT *, row_number() OVER (PARTITION BY id, m
              ORDER BY score ASC NULLS LAST, j ASC) AS rn FROM escore)
  WHERE rn = 1
), qn AS (
  SELECT id, CASE WHEN v IS NULL THEN NULL
                  ELSE sqrt(list_inner_product(v, v)) END AS qn
  FROM e
), pqn AS (
  SELECT c.id,
         CASE WHEN bool_or(c.score IS NULL) OR any_value(q.qn) IS NULL
                   OR any_value(q.qn) = 0 THEN NULL
              ELSE sqrt(list_sum(list(c.c2 ORDER BY c.m))) END AS pqn
  FROM codes c JOIN qn q USING (id) GROUP BY c.id
),
lut AS (
  SELECT s.id AS qid, s.m, cb2.j,
         CASE WHEN s.sub IS NULL OR cb2.cw IS NULL THEN NULL
              ELSE list_inner_product(s.sub, cb2.cw) END AS val
  FROM subs s JOIN cb2 USING (m)
), cand AS (
  SELECT p.qid, a.id AS nbr_id
  FROM probes p JOIN assign a USING (cid) WHERE p.qid <> a.id
), adc AS (
  SELECT c.qid, c.nbr_id,
         CASE WHEN bool_or(l.val IS NULL) THEN NULL
              ELSE list_sum(list(l.val ORDER BY l.m)) END AS adot
  FROM cand c
  JOIN codes cd ON cd.id = c.nbr_id
  JOIN lut l ON l.qid = c.qid AND l.m = cd.m AND l.j = cd.j
  GROUP BY c.qid, c.nbr_id
), ascored AS (
  SELECT a.qid, a.nbr_id, a.adot / nullif(q.qn * p.pqn, 0) AS adc_cos
  FROM adc a JOIN qn q ON q.id = a.qid JOIN pqn p ON p.id = a.nbr_id
), short AS (
  SELECT qid, nbr_id FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY adc_cos DESC, nbr_id ASC) AS arank
    FROM ascored WHERE adc_cos IS NOT NULL) WHERE arank <= {max(rerank, k)}
), ex AS (
  SELECT s.qid, s.nbr_id,
         {_duck_cosine("qa.v", "nb.v")} AS cosine
  FROM short s JOIN e qa ON qa.id = s.qid JOIN e nb ON nb.id = s.nbr_id
), rr AS (
  SELECT qid, nbr_id, cosine, row_number() OVER (PARTITION BY qid
         ORDER BY cosine DESC, nbr_id ASC) AS rank
  FROM ex WHERE cosine IS NOT NULL
)
SELECT qid, nbr_id, CAST(rank AS INTEGER) AS rank,
       round(cosine, 6) AS cosine
FROM rr WHERE rank <= {k}
"""



def q_bloom_decontam(spark, sf_dir):
    """Bloom-filtered benchmark decontamination: filter built over the
    eval split's 8-gram shingles (doc_id % 10 == 0), train side probed
    with ZERO train-side shuffle (single-row broadcast map + narrow
    fold)."""
    from .datapipe.sketches import bloom_decontaminate
    d = load(spark, sf_dir, "documents", lift=True)
    ev = d.filter(F.col("doc_id") % 10 == 0)
    tr = d.filter(F.col("doc_id") % 10 != 0)
    return bloom_decontaminate(tr, ev)


def _oracle_bloom_decontam(k_shingle: int = 8, m_bits: int = 1 << 16,
                           k_hashes: int = 5, min_hits: int = 2) -> str:
    ws = "[ \\t\\n\\x0b\\f\\r]+"
    return f"""
WITH evw AS (
  SELECT string_split(lower(regexp_replace(trim(text), '{ws}', ' ', 'g')),
                      ' ') AS ws
  FROM documents WHERE doc_id % 10 = 0
), evs AS (
  SELECT DISTINCT unnest(
    CASE WHEN len(ws) >= {k_shingle}
         THEN list_transform(
                generate_series(1, len(ws) - {k_shingle} + 1),
                i -> array_to_string(
                       array_slice(ws, i, i + {k_shingle} - 1), ' '))
         ELSE [array_to_string(ws, ' ')] END) AS shingle
  FROM evw
), hs AS (SELECT unnest(generate_series(0, {k_hashes - 1})) AS h),
evpos AS (
  SELECT DISTINCT
         CAST('0x' || substr(md5(CAST(h.h AS VARCHAR) || ':' || shingle),
                             1, 12) AS BIGINT) % {m_bits} AS pos
  FROM evs CROSS JOIN hs h
), bloom AS (
  SELECT CAST(pos // 32 AS INTEGER) AS w,
         bit_or(CAST(pow(2, pos % 32) AS BIGINT)) AS bits
  FROM evpos GROUP BY 1
), trw AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '{ws}', ' ', 'g')),
                      ' ') AS ws
  FROM documents WHERE doc_id % 10 <> 0
), trs AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(ws) >= {k_shingle}
         THEN list_transform(
                generate_series(1, len(ws) - {k_shingle} + 1),
                i -> array_to_string(
                       array_slice(ws, i, i + {k_shingle} - 1), ' '))
         ELSE [array_to_string(ws, ' ')] END) AS shingle
  FROM trw
), probe AS (
  SELECT t.doc_id, t.shingle, h.h,
         CAST('0x' || substr(md5(CAST(h.h AS VARCHAR) || ':' || t.shingle),
                             1, 12) AS BIGINT) % {m_bits} AS pos
  FROM trs t CROSS JOIN hs h
), checked AS (
  SELECT p.doc_id, p.shingle,
         bool_and(coalesce(b.bits, 0)
                  & CAST(pow(2, p.pos % 32) AS BIGINT) <> 0) AS maybe
  FROM probe p LEFT JOIN bloom b ON b.w = CAST(p.pos // 32 AS INTEGER)
  GROUP BY p.doc_id, p.shingle
)
SELECT doc_id AS id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(*) FILTER (maybe) AS BIGINT) AS n_maybe_hits,
       count(*) FILTER (maybe) >= {min_hits} AS flagged
FROM checked GROUP BY doc_id
"""


def q_margin_pairs(spark, sf_dir):
    """Margin-based aligned-pair mining (Artetxe & Schwenk 2019) between
    the even-id and odd-id halves of the embeddings table: ratio-margin
    over forward top-4 candidates, mutual-best pairs."""
    from .datapipe.similarity import margin_pairs
    e = load(spark, sf_dir, "embeddings", lift=True)
    return margin_pairs(e.filter(F.col("vec_id") % 2 == 0),
                        e.filter(F.col("vec_id") % 2 == 1), k=4)


def _oracle_margin_pairs(k: int = 4) -> str:
    return f"""
WITH a AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id % 2 = 0),
b AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id % 2 = 1),
fr AS (
  SELECT a.id AS a_id, b.id AS b_id,
         {_duck_cosine("a.v", "b.v")} AS c
  FROM a CROSS JOIN b
), fwd AS (
  SELECT a_id, b_id, round(c, 6) AS cosine,
         row_number() OVER (PARTITION BY a_id
                            ORDER BY c DESC, b_id ASC) AS rank
  FROM fr WHERE c IS NOT NULL QUALIFY rank <= {k}
), bwd AS (
  SELECT b_id, a_id, round(c, 6) AS cosine,
         row_number() OVER (PARTITION BY b_id
                            ORDER BY c DESC, a_id ASC) AS rank
  FROM fr WHERE c IS NOT NULL QUALIFY rank <= {k}
), pa AS (
  SELECT a_id, list_sum(list(cosine ORDER BY rank)) / count(*) AS pen_a
  FROM fwd GROUP BY a_id
), pb AS (
  SELECT b_id, list_sum(list(cosine ORDER BY rank)) / count(*) AS pen_b
  FROM bwd GROUP BY b_id
), scored AS (
  SELECT f.a_id, f.b_id, f.cosine,
         f.cosine / ((pa.pen_a + pb.pen_b) / 2) AS m
  FROM fwd f JOIN pa USING (a_id) JOIN pb USING (b_id)
), best AS (
  SELECT *,
         row_number() OVER (PARTITION BY a_id
                            ORDER BY m DESC, b_id ASC) AS ra,
         row_number() OVER (PARTITION BY b_id
                            ORDER BY m DESC, a_id ASC) AS rb
  FROM scored
)
SELECT a_id, b_id, cosine, round(m, 6) AS margin
FROM best WHERE ra = 1 AND rb = 1
"""


# ===========================================================================
# THE REGISTRY: the one list of contract queries (check_contract.py gates
# it against ORACLES, bench.py times it).
#
# ROTATION RULE (institutionalized r5): the driver snapshots the FIRST 50
# entries each round, so the union of round N-1's driver rows and round
# N's first-50 window must cover every registry entry — nothing ships two
# rounds on local-only green.  Registry size must stay <= 100 (2x window);
# tests/test_contract_schemas.py checks the coverage.
# ===========================================================================

QUERIES = {
    # ---- next window (first 50) ----------------------------------------
    # no row in r07 or r08: re-enter under the rotation rule
    "time_rollup": q_time_rollup,
    "truncate_chunk": q_truncate_chunk,
    "bigram_lm": q_bigram_lm,
    "merge_shards": q_merge_shards,
    "keyword_search": q_keyword_search,
    "hist_quantiles": q_hist_quantiles,
    "curation": q_curation,
    "ivf_topk": q_ivf_topk,
    "jaccard": q_jaccard,
    "funnel": q_funnel,
    "top_order_per_cust": q_top_order_per_cust,
    "upsert_merge": q_upsert_merge,
    "apply_results": q_apply_results,
    "chunking": q_chunking,
    "vote": q_vote,
    "dedup_exact": q_dedup_exact,
    "minhash_sig": q_minhash_sig,
    "minhash_pairs": q_minhash_pairs,
    "cosine_topk": q_cosine_topk,
    "near_dup": q_near_dup,
    "quality": q_quality,
    "lang_id": q_lang_id,
    "token_counts": q_token_counts,
    "fingerprint": q_fingerprint,
    "heavy_hitters": q_heavy_hitters,
    "tfidf": q_tfidf,
    "asof_join": q_asof_join,
    "range_join": q_range_join,
    "range_join_left": q_range_join_left,
    "event_percentiles": q_event_percentiles,
    "event_pivot": q_event_pivot,
    "near_dup_lsh": q_near_dup_lsh,
    "dedup_pipeline": q_dedup_pipeline,
    "dup_components": q_dup_components,
    "kmv_distinct": q_kmv_distinct,
    "cms_counts": q_cms_counts,
    "decontam_overlap": q_decontam_overlap,
    "pack_sequences": q_pack_sequences,
    "mixture_sample": q_mixture_sample,
    "weighted_sample": q_weighted_sample,
    "inverted_postings": q_inverted_postings,
    "robust_outliers": q_robust_outliers,
    "doc_structure": q_doc_structure,
    "full_description": q_full_description,
    "pii_redact": q_pii_redact,
    "repetition": q_repetition,
    # changed since r08: runs plans.extract.extract (rewritten after r08)
    "extract_strategies": q_extract_strategies,
    # never had a driver row
    "pq_topk": q_pq_topk,
    "bloom_decontam": q_bloom_decontam,
    "margin_pairs": q_margin_pairs,
    # ================ driver window boundary (50) ========================
    # everything below holds a driver row in both r07 and r08
    "extract_text": q_extract_text,
    "levels_suite": q_levels_suite,
    "extract_diff": q_extract_diff,
    "scalar_suite": q_scalar_suite,
    "agg_suite": q_agg_suite,
    "membership_joins": q_membership_joins,
    "norm_dedupe": q_norm_dedupe,
    "sample_suite": q_sample_suite,
    "hybrid_search": q_hybrid_search,
    "lsh_multiprobe": q_lsh_multiprobe,
    "rake": q_rake,
    "drift_report": q_drift_report,
    "gopher_report": q_gopher_report,
    "url_report": q_url_report,
    "interleaved_report": q_interleaved_report,
    "substring_dedup": q_substring_dedup,
    "semdedup": q_semdedup,
    "dsir_select": q_dsir_select,
    "winsorize": q_winsorize,
    "consistency": q_consistency,
    "header_parse": q_header_parse,
    "windowed_counts": q_windowed_counts,
    "simhash": q_simhash,
    "media_features": q_media_features,
    "lsh_topk_multiband": q_lsh_topk_multiband,
    "entity_id": q_entity_id,
    "ordered_concat": q_ordered_concat,
    "pricing_summary": q_pricing_summary,
    "dim_join_rollup": q_dim_join_rollup,
    "sessionize": q_sessionize,
    "rollup_cube": q_rollup_cube,
    "lm_score": q_lm_score,
    "corpus_report": q_corpus_report,
    "bm25": q_bm25,
    "domain_cap": q_domain_cap,
    "rolling_stats": q_rolling_stats,
    "decayed_sum": q_decayed_sum,
    "scd2": q_scd2,
    "containment": q_containment,
    "bigram_pmi": q_bigram_pmi,
    "bpe_pairs": q_bpe_pairs,
    "incremental_dedup": q_incremental_dedup,
    "curriculum": q_curriculum,
    "quality_clf": q_quality_clf,
    "corpus_diff": q_corpus_diff,
    "key_skew": q_key_skew,
    "density_classify": q_density_classify,
    "unicode_norm": q_unicode_norm,
    "passage_dedup": q_passage_dedup,
}

ORACLES = {
    # keyed by name: the driver window follows QUERIES' order, not this
    # dict's
    "scalar_suite": ORACLE_SCALAR_SUITE,
    "agg_suite": ORACLE_AGG_SUITE,
    "membership_joins": ORACLE_MEMBERSHIP,
    "norm_dedupe": ORACLE_NORM_DEDUPE,
    "sample_suite": _oracle_sample_suite(),
    "levels_suite": _oracle_levels_suite(),
    "extract_strategies": _oracle_extract_strategies(),
    "extract_diff": ORACLE_EXTRACT_DIFF,
    "hybrid_search": ORACLE_HYBRID_SEARCH,
    "lsh_multiprobe": _oracle_lsh_multiprobe(),
    "rake": _oracle_rake(),
    "drift_report": ORACLE_DRIFT_REPORT,
    "gopher_report": ORACLE_GOPHER_REPORT,
    "url_report": ORACLE_URL_REPORT,
    "interleaved_report": ORACLE_INTERLEAVED_REPORT,
    "substring_dedup": ORACLE_SUBSTRING_DEDUP,
    "semdedup": ORACLE_SEMDEDUP,
    "dsir_select": ORACLE_DSIR_SELECT,
    "winsorize": ORACLE_WINSORIZE,
    "consistency": ORACLE_CONSISTENCY,
    "header_parse": ORACLE_HEADER_PARSE,
    "windowed_counts": ORACLE_WINDOWED,
    "simhash": _oracle_simhash(),
    "media_features": _oracle_media_features(),
    "lsh_topk_multiband": _oracle_lsh_topk_multiband(),
    "entity_id": ORACLE_ENTITY_ID,
    "ordered_concat": ORACLE_ORDERED_CONCAT,
    "pricing_summary": ORACLE_PRICING,
    "dim_join_rollup": ORACLE_DIM_JOIN,
    "sessionize": ORACLE_SESSIONIZE,
    "rollup_cube": ORACLE_ROLLUP,
    "lm_score": ORACLE_LM_SCORE,
    "corpus_report": _oracle_corpus_report(),
    "bm25": ORACLE_BM25,
    "domain_cap": ORACLE_DOMAIN_CAP,
    "rolling_stats": ORACLE_ROLLING,
    "decayed_sum": ORACLE_DECAYED,
    "scd2": ORACLE_SCD2,
    "containment": ORACLE_CONTAINMENT,
    "bigram_pmi": ORACLE_BIGRAM_PMI,
    "bpe_pairs": ORACLE_BPE_PAIRS,
    "incremental_dedup": _oracle_incremental(),
    "curriculum": ORACLE_CURRICULUM,
    "quality_clf": ORACLE_QUALITY_CLF,
    "corpus_diff": ORACLE_CORPUS_DIFF,
    "key_skew": ORACLE_KEY_SKEW,
    "density_classify": ORACLE_DENSITY,
    "unicode_norm": ORACLE_UNICODE_NORM,
    "passage_dedup": ORACLE_PASSAGE_DEDUP,
    "extract_text": oracle_extract_text(),
    "pq_topk": _oracle_pq_topk(),
    "bloom_decontam": _oracle_bloom_decontam(),
    "margin_pairs": _oracle_margin_pairs(),
    "time_rollup": ORACLE_TIME_ROLLUP,
    "truncate_chunk": ORACLE_TRUNCATE_CHUNK,
    "bigram_lm": ORACLE_BIGRAM_LM,
    "merge_shards": ORACLE_MERGE_SHARDS,
    "keyword_search": ORACLE_KEYWORD,
    "hist_quantiles": ORACLE_HIST_Q,
    "curation": _oracle_curation(),
    "ivf_topk": _oracle_ivf_topk(),
    "jaccard": ORACLE_JACCARD,
    "funnel": ORACLE_FUNNEL,
    "top_order_per_cust": ORACLE_TOP_ORDER,
    "upsert_merge": ORACLE_UPSERT,
    "apply_results": ORACLE_APPLY,
    "chunking": ORACLE_CHUNKING,
    "vote": ORACLE_VOTE,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "minhash_sig": ORACLE_MINHASH_SIG,
    "minhash_pairs": ORACLE_MINHASH_PAIRS,
    "cosine_topk": ORACLE_COSINE_TOPK,
    "near_dup": ORACLE_NEAR_DUP,
    "quality": ORACLE_QUALITY,
    "lang_id": _oracle_lang_id(),
    "token_counts": ORACLE_TOKEN_COUNTS,
    "fingerprint": ORACLE_FINGERPRINT,
    "heavy_hitters": ORACLE_HEAVY_HITTERS,
    "tfidf": ORACLE_TFIDF,
    "asof_join": ORACLE_ASOF,
    "range_join": ORACLE_RANGE_JOIN,
    "range_join_left": ORACLE_RANGE_JOIN_LEFT,
    "event_percentiles": ORACLE_EVENT_PERCENTILES,
    "event_pivot": ORACLE_EVENT_PIVOT,
    "near_dup_lsh": _oracle_near_dup_lsh(),
    "dedup_pipeline": _oracle_dedup_pipeline(),
    "dup_components": _oracle_dup_components(),
    "kmv_distinct": ORACLE_KMV,
    "cms_counts": ORACLE_CMS,
    "decontam_overlap": ORACLE_DECONTAM,
    "pack_sequences": ORACLE_PACK,
    "mixture_sample": ORACLE_MIXTURE,
    "weighted_sample": ORACLE_WSAMPLE,
    "inverted_postings": ORACLE_POSTINGS,
    "robust_outliers": ORACLE_ROBUST_OUTLIERS,
    "doc_structure": _oracle_doc_structure(),
    "full_description": _oracle_full_description(),
    "pii_redact": _oracle_pii_redact(),
    "repetition": ORACLE_REPETITION,
}

assert set(QUERIES) == set(ORACLES), "every registry query needs an oracle"
