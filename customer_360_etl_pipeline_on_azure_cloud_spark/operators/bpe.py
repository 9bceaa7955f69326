"""BPE merge-rule training over a distributed corpus.

``adjacent_pairs`` (operators/text.py) is ONE merge iteration's count
table; this module runs the actual training loop: count adjacent pairs
→ take the most frequent pair as the next merge rule → rewrite the
token streams with that rule merged → repeat.  This is the core of
byte-pair-encoding tokenizer training (Sennrich et al. 2016) expressed
in Spark's execution model:

* pair counting is the in-row adjacent-pair array of
  ``text._pairs`` + one hash aggregate (map-side combined — the
  shuffle carries observed-pair partials);
* the argmax is ``orderBy().limit(1)`` = TakeOrderedAndProject, and the
  single winning row is the round's only driver traffic (the same
  bounded scalar-broadcast pattern as quantile_cutoffs);
* the rewrite is an in-row left fold (``F.aggregate``) with
  match-with-previous semantics — NO lookahead state, so the identical
  fold replays on any engine with a list-reduce primitive (the DuckDB
  oracle does exactly that);
* each round but the last persists the rewritten token table and
  releases the previous one — K rounds tokenize the corpus once and
  rewrite it K-1 times, the honest cost of exact BPE (production
  trainers batch several non-interacting merges per pass; same plan
  shape).  The ``persist`` + ``count`` is the rewrite's
  materialization, not a decision: the round's decision is the
  one-row argmax.

Greedy non-overlap pinned by the fold: merging (a,a) over [a,a,a]
yields [a+a, a] — the merged symbol does not re-participate within its
own round (it re-enters the NEXT round's counts, as BPE intends).  The
separator keeps a merged token from colliding with a raw token, so
``joined == left`` can't cause in-round cascading.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import _pairs, tokens
from .util import spread


def merge_pair(
    toks: Column, left: str, right: str, sep: str = "+"
) -> Column:
    """Rewrite a token-array column with one merge rule applied:
    every adjacent non-overlapping (left, right) becomes one
    ``left+sep+right`` token, greedy left-to-right.  Pure in-row fold —
    a narrow map at any corpus scale."""
    joined = f"{left}{sep}{right}"
    return F.aggregate(
        toks,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(joined))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def array_pair_counts(toks_df: DataFrame, toks_col: str = "t") -> DataFrame:
    """Adjacent-pair counts over a token-array column (the array-typed
    sibling of text.adjacent_pairs): the in-row pair array, one
    explode, one map-side-combined aggregate."""
    return (
        toks_df.select(F.explode(_pairs(F.col(toks_col))).alias("p"))
        .select("p.left_tok", "p.right_tok")
        .groupBy("left_tok", "right_tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
    min_count: int = 2,
    sep: str = "+",
) -> DataFrame:
    """Learn the top ``n_merges`` BPE merge rules over the corpus.

    Returns a small DataFrame ``(merge_rank, left_tok, right_tok,
    cnt)`` — rank k is the pair chosen in round k, counted over the
    token streams with rules 1..k-1 already applied.  Ties break
    (cnt desc, left asc, right asc), so training is deterministic.

    The loop stops early when the best remaining pair falls under
    ``min_count`` (merging hapax pairs is noise).  The last round only
    counts: no later round reads its rewrite.
    """
    spark = df.sparkSession
    cur = spread(df).select(tokens(text_col).alias("t")).persist()
    merges: list[tuple[int, str, str, int]] = []
    try:
        for k in range(1, n_merges + 1):
            top = (
                array_pair_counts(cur)
                .orderBy(F.col("cnt").desc(), "left_tok", "right_tok")
                .limit(1)
                .collect()
            )
            if not top or top[0]["cnt"] < min_count:
                break
            l, r, c = top[0]["left_tok"], top[0]["right_tok"], top[0]["cnt"]
            merges.append((k, l, r, c))
            if k == n_merges:
                break
            nxt = cur.select(merge_pair(F.col("t"), l, r, sep).alias("t")).persist()
            nxt.count()  # materialize before dropping the parent
            cur.unpersist()
            cur = nxt
    finally:
        cur.unpersist()
    return spark.createDataFrame(
        merges, "merge_rank long, left_tok string, right_tok string, cnt long"
    )
