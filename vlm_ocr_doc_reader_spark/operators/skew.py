"""Explicit skew-join salting (SURVEY §4.3 / north rule "skew handled
explicitly").

AQE's skew-join splitting handles most cases at runtime
(spark.sql.adaptive.skewJoin.enabled, on by default in our sessions); this
utility is for the case AQE cannot fix: a broadcast-ineligible join where ONE
hot key dominates a partition beyond what post-shuffle splitting amortizes,
or a grouped aggregation (AQE never splits a single group).  Extraction
needs neither: ``extract`` maps each document row whole, with no exchange,
so a mega document is one row of one task and not a hot key.

Pattern: replicate the small side R times with an explicit salt column,
scatter the big side's rows uniformly over the same salt range, join on
(key, salt).  Results are identical to the unsalted join (tested), with the
hot key's rows spread over R tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(big: DataFrame, small: DataFrame, key: str,
                n_salts: int = 8, how: str = "inner") -> DataFrame:
    """Join ``big`` (skewed on ``key``) with ``small`` on ``key`` using an
    explicit salt.  ``small`` is replicated n_salts times — keep it small
    relative to the cluster; the big side gets a uniform random-ish salt
    derived from stable row content (no rand(): determinism matters for
    retries and for our reproducibility contract).

    ``how`` is restricted to inner/left (big side preserved): for
    right/full-outer the replicated small side would emit every unmatched
    small-side row n_salts times — a silent wrong answer.  The salt is
    hashed over a struct of the big row so all-NULL rows still get a
    non-null salt (xxhash64 over bare columns yields NULL on NULL input,
    which would silently drop those rows from an inner join)."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins only (got {how!r}): "
            "replicating the small side breaks right/full-outer semantics")
    salt = F.pmod(F.xxhash64(F.struct(*[F.col(c) for c in big.columns])),
                  F.lit(n_salts)).cast("int")
    b = big.withColumn("_salt", salt)
    s = (small.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))))
    out = b.join(s, [key, "_salt"], how)
    return out.drop("_salt")


def key_skew_report(df: DataFrame, key_col: str, k: int = 20) -> DataFrame:
    """Pre-join skew diagnosis: the top-``k`` heaviest values of
    ``key_col`` with their row counts, share of total, and ratio to the
    mean key population — the numbers that decide between a plain shuffle
    join, AQE skew splitting, and explicit salting.

    Output: (key string, n rows, share double, x_mean double), ordered by
    n desc with deterministic tie-breaks.

    Scale shape: one hash aggregate with map-side combine (the shuffle
    carries (key, partial_count)); totals are a 1-row broadcast; top-k is
    TakeOrderedAndProject.  Shares derive from integer counts only —
    partition-invariant."""
    counts = (df.groupBy(F.col(key_col).cast("string").alias("key"))
              .agg(F.count("*").alias("n")))
    totals = counts.agg(F.sum("n").alias("_total"),
                        F.count("*").alias("_nkeys"))
    return (counts.crossJoin(F.broadcast(totals))
            .select("key", "n",
                    F.round(F.col("n") / F.col("_total"), 6).alias("share"),
                    F.round(F.col("n") * F.col("_nkeys") / F.col("_total"),
                            6).alias("x_mean"))
            .orderBy(F.desc("n"), F.asc("key"))
            .limit(k))
