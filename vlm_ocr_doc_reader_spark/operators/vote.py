"""Majority-vote aggregation (A2) — the reference's flagship aggregate.

DataFrame mirror of /root/reference/02_src/vlm_ocr_doc_reader/core/voting.py:44-89
(call site core/reader.py:489-520), pure built-in ops — no UDF:

  * valid samples: status in ('ok', 'no_data'); errors don't vote
  * votes grouped by normalized value (trim + collapse whitespace + lower,
    blank/None -> __NO_DATA__ sentinel, voting.py:30-41)
  * winner: max vote count, tie -> group appearing earliest in the input
    (== lowest axis_idx of the group's first sample, voting.py:79)
  * reported value: ORIGINAL value of the winning group's earliest sample,
    outer-stripped; '' when the winner is the no-data group (voting.py:84)
  * context: that same sample's context (voting.py:85)
  * confidence 'k/N', N = valid voters; all-errors -> '0/{total}'
    (voting.py:68,87)
  * verified = k == N_valid == N_total (voting.py:88)
  * entities whose samples ALL errored still yield a row ('', null, '0/n',
    false) — the caller-side guard (reader.py:501-507) is the separate
    filter ``~confidence.startswith('0/')`` (P9).

Input:  samples(entity_id, axis_idx int, value, context, status) —
        axis_idx is the sample's input position (J5 tags runs with it).
Output: (entity_id, value, context, confidence, verified).

Scale: two chained aggregations (per-(key, norm) groups, then a per-key
fold whose max_by picks the winner — no window, no join, one scan of the
samples); map-side partial aggregation applies (sort-based: the
min_by/max_by struct buffers are not hash-aggregable), and there is no
skew (each entity has only N_axes samples).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..extraction import spec


def normalize_for_vote_col(col: Column) -> Column:
    """Column mirror of spec.normalize_for_vote (parity-tested).

    Collapse-then-trim: Spark's trim() strips spaces only, so whitespace is
    first collapsed to single spaces (Java \\s is ASCII, matching the spec's
    re.ASCII) — edge runs become ' ' and trim sees them."""
    collapsed = F.regexp_replace(col, r"\s+", " ")
    t = F.trim(collapsed)
    return (F.when(col.isNull() | (t == ""), F.lit(spec.NO_DATA_SENTINEL))
             .otherwise(F.lower(t)))


def majority_vote(samples: DataFrame,
                  key_cols: tuple[str, ...] = ("entity_id",)) -> DataFrame:
    keys = list(key_cols)

    # TWO chained aggregates, one scan (the previous form read ``samples``
    # twice — a per-key totals aggregate and a per-(key, norm) groups
    # aggregate — then a top-1 window and a left join to marry them:
    # three exchanges and a duplicated upstream; for verify's samples
    # that upstream is a corpus join).  Level 1 groups by (key, norm)
    # with errors parked in the null-norm group; level 2 folds groups
    # per key: totals by sums, the winner by max_by over the
    # (votes, -first_pos) struct — identical to the window's
    # (votes DESC, first_pos ASC) top-1 because first_pos (the group's
    # min axis_idx) is unique per key, and the null-norm group never
    # wins (max_by ignores null ordering keys).  Same winner, same
    # totals, same output columns.
    norm = F.when(F.col("status").isin("ok", "no_data"),
                  normalize_for_vote_col(F.col("value")))
    groups = (samples
              .withColumn("_norm", norm)
              .groupBy(*keys, "_norm")
              .agg(F.count("*").alias("_rows"),
                   F.min("axis_idx").alias("_fp"),
                   F.min_by(F.struct("value", "context"), "axis_idx")
                    .alias("_fs")))
    folded = (groups.groupBy(*keys)
              .agg(F.sum("_rows").alias("n_total"),
                   F.sum(F.when(F.col("_norm").isNotNull(),
                                F.col("_rows")).otherwise(F.lit(0)))
                   .alias("n_valid"),
                   F.max_by(
                       F.struct(F.col("_norm").alias("norm"),
                                F.col("_rows").alias("votes"),
                                F.col("_fs").alias("first_sample")),
                       F.when(F.col("_norm").isNotNull(),
                              F.struct(F.col("_rows").alias("v"),
                                       (-F.col("_fp")).alias("np"))))
                   .alias("_w")))

    no_winner = F.col("_w").isNull()  # all samples errored
    value = (F.when(no_winner
                    | (F.col("_w.norm") == spec.NO_DATA_SENTINEL),
                    F.lit(""))
              .otherwise(F.trim(F.coalesce(F.col("_w.first_sample.value"),
                                           F.lit("")))))
    context = F.when(no_winner, F.lit(None).cast("string")) \
               .otherwise(F.col("_w.first_sample.context"))
    confidence = (F.when(no_winner,
                         F.format_string("0/%d", F.col("n_total")))
                   .otherwise(F.format_string("%d/%d", F.col("_w.votes"),
                                              F.col("n_valid"))))
    verified = (~no_winner
                & (F.col("_w.votes") == F.col("n_valid"))
                & (F.col("n_valid") == F.col("n_total")))

    return folded.select(*keys,
                         value.alias("value"),
                         context.alias("context"),
                         confidence.alias("confidence"),
                         verified.alias("verified"))
