"""Join operators (SURVEY.md §2.3 J1-J4).

Spark's ``df.join`` already provides inner/left/right/full/semi/anti/cross
— the engine adds the two shapes the reference needed glue for: broadcast
dimension lookup and a *well-defined* positional zip.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import _col


def lookup(
    df: DataFrame,
    dim: DataFrame,
    key,
    dim_key: str,
    value_cols: Iterable[str],
    how: str = "left",
    alias: str | None = None,
    hint_broadcast: bool = True,
) -> DataFrame:
    """Enrich ``df`` with columns from a small dimension table.

    Generalizes the reference's 2x keyword->category mapping join
    (reference ETL_pipeline.py:170-188). The dimension is broadcast
    (explicit hint — at 100 TB never let a fact-fact shuffle sneak in for
    a kilobyte-scale dim; AQE would usually catch it, but the hint makes
    the plan deterministic). ``alias`` renames the single value column.
    """
    key_col = _col(key)
    value_cols = list(value_cols)
    dim_proj = dim.select(
        F.col(dim_key).alias("__lk"), *[F.col(c) for c in value_cols]
    )
    if hint_broadcast:
        dim_proj = F.broadcast(dim_proj)
    out = df.join(dim_proj, key_col == F.col("__lk"), how).drop("__lk")
    if alias is not None:
        assert len(value_cols) == 1, "alias requires exactly one value col"
        out = out.withColumnRenamed(value_cols[0], alias)
    return out


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    by: str,
    left_ts: str,
    right_ts: str,
    right_values: Iterable[str] = (),
    suffix: str = "_asof",
) -> DataFrame:
    """As-of join: for every left row, attach the LATEST right row of the
    same ``by`` key with ``right_ts <= left_ts`` (backward direction,
    inclusive). Spark has no native as-of join; this is the scalable
    union-window construction:

    1. tag and union both sides (right rows sort before left rows at
       equal timestamps, making the match inclusive),
    2. one window over (by) ordered by (ts, tag): running ``max(struct(
       right_ts, right_values...))`` — nulls (left rows) are ignored by
       max, so each left row sees the latest right payload at or before
       its timestamp,
    3. keep left rows.

    Cost: ONE shuffle on ``by`` + per-partition sort — same shape as any
    window; no range join, no per-row subquery. This is the standard
    distributed as-of pattern (cf. pandas merge_asof semantics).
    """
    from pyspark.sql import Window

    rv = list(right_values)
    right_struct = F.struct(
        F.col(right_ts).alias("__rts"), *[F.col(c) for c in rv]
    )
    left_struct = F.struct(*[F.col(c) for c in left.columns])
    right_struct_type = right.select(right_struct.alias("s")).schema["s"].dataType
    left_struct_type = left.select(left_struct.alias("s")).schema["s"].dataType

    l_tag = left.select(
        F.col(by).alias("__by"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        left_struct.alias("__left"),
        F.lit(None).cast(right_struct_type).alias("__right"),
    )
    r_tag = right.select(
        F.col(by).alias("__by"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        F.lit(None).cast(left_struct_type).alias("__left"),
        right_struct.alias("__right"),
    )
    unioned = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy("__by")
        .orderBy(F.col("__ts"), F.col("__tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn("__last", F.max("__right").over(w)).filter(
        F.col("__tag") == 1
    )
    out = matched.select(
        "__left.*",
        F.col("__last.__rts").alias(f"{right_ts}{suffix}"),
        *[F.col(f"__last.{c}").alias(f"{c}{suffix}") for c in rv],
    )
    return out


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    by: str,
    left_ts: str,
    right_ts: str,
    right_values: Iterable[str] = (),
    suffix: str = "_asof",
) -> DataFrame:
    """As-of join, FORWARD direction: for every left row, attach the
    EARLIEST right row of the same ``by`` key with ``right_ts >=
    left_ts`` (inclusive) — "the next quote after each trade", the
    mirror of :func:`asof_join_backward` (pandas
    ``merge_asof(direction='forward')`` semantics).

    Same scalable union-window construction, mirrored:

    1. tag and union both sides (LEFT rows sort before right rows at
       equal timestamps, making the match inclusive),
    2. one window over (by) ordered by (ts, tag) with a
       currentRow..unboundedFollowing frame: running ``min(struct(
       right_ts, right_values...))`` — nulls (left rows) are ignored
       by min, so each left row sees the earliest right payload at or
       after its timestamp,
    3. keep left rows.

    Tiebreak convention: at equal ``right_ts`` the struct min picks
    the row with the SMALLEST ``right_values`` (lexicographic), the
    mirror of backward's max-picks-largest — both are total orders,
    so results are split-invariant.  Cost: ONE shuffle on ``by`` +
    per-partition sort, identical to the backward form.
    """
    from pyspark.sql import Window

    rv = list(right_values)
    right_struct = F.struct(
        F.col(right_ts).alias("__rts"), *[F.col(c) for c in rv]
    )
    left_struct = F.struct(*[F.col(c) for c in left.columns])
    right_struct_type = right.select(right_struct.alias("s")).schema["s"].dataType
    left_struct_type = left.select(left_struct.alias("s")).schema["s"].dataType

    l_tag = left.select(
        F.col(by).alias("__by"),
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        left_struct.alias("__left"),
        F.lit(None).cast(right_struct_type).alias("__right"),
    )
    r_tag = right.select(
        F.col(by).alias("__by"),
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(left_struct_type).alias("__left"),
        right_struct.alias("__right"),
    )
    unioned = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy("__by")
        .orderBy(F.col("__ts"), F.col("__tag"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    matched = unioned.withColumn("__next", F.min("__right").over(w)).filter(
        F.col("__tag") == 0
    )
    return matched.select(
        "__left.*",
        F.col("__next.__rts").alias(f"{right_ts}{suffix}"),
        *[F.col(f"__next.{c}").alias(f"{c}{suffix}") for c in rv],
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    by: str,
    left_ts: str,
    right_ts: str,
    right_values: Iterable[str] = (),
    suffix: str = "_asof",
) -> DataFrame:
    """As-of join, NEAREST direction: for every left row, the right row
    of the same ``by`` key minimizing ``|right_ts - left_ts|``, ties
    toward the BACKWARD (at-or-before) side — pandas
    ``merge_asof(direction='nearest')`` semantics.  Completes the
    direction trio with :func:`asof_join_backward` /
    :func:`asof_join_forward`.

    ONE shuffle + ONE sort: both candidate frames ride the same
    union-window pass — a running ``max(right_struct)`` over the
    preceding frame (backward candidate) and a ``min(right_struct)``
    over the following frame (forward candidate) share the window's
    (by) partitioning and (ts, tag) ordering, so Catalyst plans a
    single Exchange+Sort with two Window operators stacked on it.
    Right rows sort BEFORE left rows at equal timestamps, so an
    equal-timestamp match lands in the backward frame at distance 0 —
    which wins every nearest comparison, making the forward frame's
    exclusive boundary at equal ts harmless.

    Per-side tiebreaks at equal ``right_ts`` follow each direction's
    struct-order convention (backward: largest values; forward:
    smallest values) — total orders, split-invariant.
    """
    from pyspark.sql import Window

    rv = list(right_values)
    right_struct = F.struct(
        F.col(right_ts).alias("__rts"), *[F.col(c) for c in rv]
    )
    left_struct = F.struct(*[F.col(c) for c in left.columns])
    right_struct_type = right.select(right_struct.alias("s")).schema["s"].dataType
    left_struct_type = left.select(left_struct.alias("s")).schema["s"].dataType

    l_tag = left.select(
        F.col(by).alias("__by"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        left_struct.alias("__left"),
        F.lit(None).cast(right_struct_type).alias("__right"),
    )
    r_tag = right.select(
        F.col(by).alias("__by"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        F.lit(None).cast(left_struct_type).alias("__left"),
        right_struct.alias("__right"),
    )
    unioned = l_tag.unionByName(r_tag)
    order = [F.col("__ts"), F.col("__tag")]
    wb = (
        Window.partitionBy("__by")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("__by")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    cand = (
        unioned.withColumn("__back", F.max("__right").over(wb))
        .withColumn("__fwd", F.min("__right").over(wf))
        .filter(F.col("__tag") == 1)
    )
    # native subtraction keeps full precision for every ts type:
    # timestamps compare as day-time INTERVALs (microsecond-exact),
    # numerics as numerics — never cast("long"), which truncates
    # timestamps to SECONDS and would misjudge sub-second distances
    d_back = F.col("__ts") - F.col("__back.__rts")
    d_fwd = F.col("__fwd.__rts") - F.col("__ts")
    chosen = (
        F.when(F.col("__back").isNull(), F.col("__fwd"))
        .when(F.col("__fwd").isNull(), F.col("__back"))
        .when(d_back <= d_fwd, F.col("__back"))  # tie -> backward
        .otherwise(F.col("__fwd"))
    )
    picked = cand.withColumn("__pick", chosen)
    return picked.select(
        "__left.*",
        F.col("__pick.__rts").alias(f"{right_ts}{suffix}"),
        *[F.col(f"__pick.{c}").alias(f"{c}{suffix}") for c in rv],
    )


def positional_zip(
    left: DataFrame,
    right: DataFrame,
    left_order: Iterable[Column | str],
    right_order: Iterable[Column | str],
    how: str = "inner",
    keep_index: bool = False,
    index_name: str = "zip_index",
) -> DataFrame:
    """Pair the i-th row of ``left`` (under ``left_order``) with the i-th
    row of ``right`` (under ``right_order``).

    The reference zips two DataFrames by equating two independent
    ``monotonically_increasing_id`` columns (reference
    ETL_pipeline.py:359-362) — those ids depend on partition layout, so
    the pairing is non-deterministic and changes with parallelism
    (SURVEY.md §0.1 / §2.3 J4). Here each side gets
    ``row_number() OVER (ORDER BY <explicit total order>)``.

    Scale note: a global row_number is a single-partition sort — this
    operator is intended for SMALL frames (the reference zips 250-row
    outputs). For large frames use ``zipWithIndex``-style partition-offset
    indexing instead; positional pairing of big distributed data is
    almost always a modeling error.
    """
    from pyspark.sql import Window

    lo = [_col(c) for c in left_order]
    ro = [_col(c) for c in right_order]
    idx = index_name if keep_index else "__idx"
    lw = left.withColumn(idx, F.row_number().over(Window.orderBy(*lo)).cast("long"))
    rw = right.withColumn(idx, F.row_number().over(Window.orderBy(*ro)).cast("long"))
    out = lw.join(rw, on=idx, how=how)
    return out if keep_index else out.drop(idx)


def banded_range_join(
    left: DataFrame,
    right: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    band_width: float,
) -> DataFrame:
    """Large-large interval join (``right.lo <= left.value <= right.hi``)
    as an EQUI-join on integer bands — the fact-fact companion to the
    broadcast-dim range join.

    Plain Spark plans a point-in-interval theta join as a
    BroadcastNestedLoopJoin (fine when one side broadcasts) or, when both
    sides are large, a cartesian product — quadratic and unusable at
    scale. Banding rewrites it: each left row maps to the single band
    containing its value; each right interval explodes to the bands it
    overlaps (``ceil((hi-lo)/band_width)+1`` rows — pick ``band_width``
    on the order of the typical interval width so the expansion factor
    stays ~2); the join is then a hash equi-join on the band id with the
    exact predicate re-applied as a post-filter. Each qualifying pair is
    emitted exactly once (the left value lies in exactly one band), so
    no dedup pass is needed. Both sides shuffle-partition by band —
    at 100 TB this is one co-partitioned shuffle instead of a cross
    product; band skew (a hot value range) is the same hot-key problem
    as any join and composes with ``skew.salted_join``.

    Inner semantics only: unmatched rows on either side are dropped.
    """
    band_l = F.floor(F.col(value_col) / band_width).cast("long")
    lb = left.withColumn("__band", band_l)
    band_lo = F.floor(F.col(lo_col) / band_width).cast("long")
    band_hi = F.floor(F.col(hi_col) / band_width).cast("long")
    rb = right.withColumn("__band", F.explode(F.sequence(band_lo, band_hi)))
    return (
        lb.join(rb, "__band")
        .filter(
            (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) <= F.col(hi_col))
        )
        .drop("__band")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    keys: Iterable[str] = (),
    bucket: float = 3600.0,
) -> DataFrame:
    """Interval-overlap join (``l_start <= r_end AND r_start <= l_end``,
    closed intervals) between two large tables of intervals, as a hash
    EQUI-join on time buckets — the interval-interval member of the
    range-join family (point-in-interval: banded_range_join; ordered
    nearest-before: asof_join).

    Both sides explode each interval to the buckets it covers
    (``floor(start/bucket) .. floor(end/bucket)``); candidates meet on
    (keys..., bucket). A pair overlapping several shared buckets would
    be emitted once per bucket, so the join keeps only the FIRST shared
    bucket — ``bucket_id == greatest(floor(l_start/bucket),
    floor(r_start/bucket))`` — which every overlapping pair satisfies in
    exactly one bucket: no distinct pass, no duplicate rows. The exact
    overlap predicate is re-applied as a residual filter.

    ``bucket`` is in the units of the interval columns (pass epoch
    seconds + bucket=3600 for hourly banding); choose it near the
    typical interval length so the per-row expansion stays ~2. One
    co-partitioned shuffle on (keys, bucket); inner semantics only.
    """
    keys = list(keys)
    lb = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(l_start) / bucket).cast("long"),
                F.floor(F.col(l_end) / bucket).cast("long"),
            )
        ),
    )
    rb = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(r_start) / bucket).cast("long"),
                F.floor(F.col(r_end) / bucket).cast("long"),
            )
        ),
    )
    first_shared = F.greatest(
        F.floor(F.col(l_start) / bucket).cast("long"),
        F.floor(F.col(r_start) / bucket).cast("long"),
    )
    return (
        lb.join(rb, [*keys, "__bucket"])
        .filter(
            (F.col(l_start) <= F.col(r_end))
            & (F.col(r_start) <= F.col(l_end))
            & (F.col("__bucket") == first_shared)
        )
        .drop("__bucket")
    )
