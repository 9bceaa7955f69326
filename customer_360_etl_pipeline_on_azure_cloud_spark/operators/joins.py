"""Join operators (SURVEY.md §2.3 J1-J4).

Spark's ``df.join`` already provides inner/left/right/full/semi/anti/cross.
This module adds the shapes it lacks: a broadcast dimension lookup, a
*well-defined* positional zip, the as-of join in three directions, and
two range joins planned as hash equi-joins on integer bands.

Ordering contract
-----------------

As-of joins (``asof_join_backward`` / ``_forward`` / ``_nearest``, one
core ``_asof``):

* both sides are tagged and unioned; right rows carry
  ``struct(right_ts, right_values...)``, left rows a null there;
* one window over ``by`` orders by ``(ts, tag)``.  The left tag is 1
  for backward and nearest (right rows sort BEFORE left rows at equal
  timestamps) and 0 for forward (left rows first), so every direction
  matches inclusively;
* the frames: backward is a running ``max`` of the right struct from
  unbounded preceding to the current row, forward a running ``min``
  from the current row to unbounded following; ``max``/``min`` skip
  the left rows' nulls.  Nearest computes both and picks the smaller
  ``|right_ts - left_ts|``, ties going backward (an equal-timestamp
  match sits in the backward frame at distance 0);
* struct order breaks ties at equal ``right_ts``: backward keeps the
  LARGEST ``right_values`` (lexicographic), forward the SMALLEST —
  total orders, so results do not depend on the split;
* cost: ONE Exchange on ``by`` plus ONE Sort for every direction
  (nearest stacks its two frames on the same sort), no join node.

Band joins (``banded_range_join``, ``interval_overlap_join``): the band
id of ``x`` is ``_band(x, width) = bigint(floor(x / width))``, and a
range ``[lo, hi]`` explodes to ``_bands(lo, hi, width)``, the ids
``_band(lo) .. _band(hi)``.  Candidates meet on (keys..., band id) in
one co-partitioned hash equi-join; the exact predicate is re-applied as
a residual filter, and each qualifying pair is emitted exactly once:
a point lies in one band, and an interval pair is kept only in its
first shared band.  Inner semantics only.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, Window
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
    value_cols = list(value_cols)
    if alias is not None and len(value_cols) != 1:
        raise ValueError(
            f"lookup: alias requires exactly one value col, got {len(value_cols)}"
        )
    key_col = _col(key)
    dim_proj = dim.select(
        F.col(dim_key).alias("__lk"), *[F.col(c) for c in value_cols]
    )
    if hint_broadcast:
        dim_proj = F.broadcast(dim_proj)
    out = df.join(dim_proj, key_col == F.col("__lk"), how).drop("__lk")
    if alias is not None:
        out = out.withColumnRenamed(value_cols[0], alias)
    return out


def _asof(
    left: DataFrame,
    right: DataFrame,
    by: str,
    left_ts: str,
    right_ts: str,
    right_values: Iterable[str],
    suffix: str,
    direction: str,
) -> DataFrame:
    """The one as-of core (module docstring: tags, frames, pick)."""
    rv = list(right_values)
    r_struct = F.struct(F.col(right_ts).alias("__rts"), *[F.col(c) for c in rv])
    l_struct = F.struct(*[F.col(c) for c in left.columns])
    r_type = right.select(r_struct.alias("s")).schema["s"].dataType
    l_type = left.select(l_struct.alias("s")).schema["s"].dataType
    l_tag = 0 if direction == "forward" else 1

    def side(df, ts, tag, l_val, r_val):
        return df.select(
            F.col(by).alias("__by"), F.col(ts).alias("__ts"),
            F.lit(tag).alias("__tag"), l_val.alias("__left"), r_val.alias("__right"),
        )

    l_side = side(left, left_ts, l_tag, l_struct, F.lit(None).cast(r_type))
    r_side = side(right, right_ts, 1 - l_tag, F.lit(None).cast(l_type), r_struct)
    unioned = l_side.unionByName(r_side)
    w = Window.partitionBy("__by").orderBy(F.col("__ts"), F.col("__tag"))
    back = F.max("__right").over(w.rowsBetween(Window.unboundedPreceding, 0))
    fwd = F.min("__right").over(w.rowsBetween(0, Window.unboundedFollowing))
    is_left = F.col("__tag") == l_tag
    if direction != "nearest":
        pick = back if direction == "backward" else fwd
        cand = unioned.withColumn("__pick", pick).filter(is_left)
    else:
        # native subtraction keeps full precision for every ts type:
        # timestamps compare as day-time INTERVALs (microsecond-exact),
        # numerics as numerics — never cast("long"), which truncates
        # timestamps to SECONDS and would misjudge sub-second distances
        d_back = F.col("__ts") - F.col("__back.__rts")
        d_fwd = F.col("__fwd.__rts") - F.col("__ts")
        cand = (
            unioned.withColumn("__back", back)
            .withColumn("__fwd", fwd)
            .filter(is_left)
            .withColumn(
                "__pick",
                F.when(F.col("__back").isNull(), F.col("__fwd"))
                .when(F.col("__fwd").isNull(), F.col("__back"))
                .when(d_back <= d_fwd, F.col("__back"))  # tie -> backward
                .otherwise(F.col("__fwd")),
            )
        )
    return cand.select(
        "__left.*",
        F.col("__pick.__rts").alias(f"{right_ts}{suffix}"),
        *[F.col(f"__pick.{c}").alias(f"{c}{suffix}") for c in rv],
    )


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
    inclusive; pandas ``merge_asof`` semantics).  Spark has no native
    as-of join; this is the union-window construction of the module
    docstring — the running ``max`` frame, ties at equal ``right_ts``
    to the largest ``right_values``.  Output: every left column plus
    ``<right_ts><suffix>`` and ``<value><suffix>`` (nulls when no right
    row qualifies).
    """
    return _asof(left, right, by, left_ts, right_ts, right_values, suffix, "backward")


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
    ``merge_asof(direction='forward')`` semantics).  The running ``min``
    frame of the module docstring; ties at equal ``right_ts`` go to the
    SMALLEST ``right_values``.
    """
    return _asof(left, right, by, left_ts, right_ts, right_values, suffix, "forward")


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
    ``merge_asof(direction='nearest')`` semantics.  Both frames of the
    module docstring ride the same union-window pass; per-side ties at
    equal ``right_ts`` follow each direction's struct order.
    """
    return _asof(left, right, by, left_ts, right_ts, right_values, suffix, "nearest")


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
    lo = [_col(c) for c in left_order]
    ro = [_col(c) for c in right_order]
    idx = index_name if keep_index else "__idx"
    lw = left.withColumn(idx, F.row_number().over(Window.orderBy(*lo)).cast("long"))
    rw = right.withColumn(idx, F.row_number().over(Window.orderBy(*ro)).cast("long"))
    out = lw.join(rw, on=idx, how=how)
    return out if keep_index else out.drop(idx)


def _band(x: str, width: float) -> Column:
    return F.floor(F.col(x) / width).cast("long")


def _bands(lo: str, hi: str, width: float) -> Column:
    return F.explode(F.sequence(_band(lo, width), _band(hi, width)))


def _band_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    l_band: Column,
    r_band: Column,
    exact: Column,
) -> DataFrame:
    """Equi-join on (keys..., band id), then the exact predicate."""
    lb = left.withColumn("__bucket", l_band)
    rb = right.withColumn("__bucket", r_band)
    return lb.join(rb, [*keys, "__bucket"]).filter(exact).drop("__bucket")


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
    scale.  Here each left row takes the band of its value and each
    right interval explodes to the bands it overlaps
    (``ceil((hi-lo)/band_width)+1`` rows — pick ``band_width`` on the
    order of the typical interval width so the expansion factor stays
    ~2); band ids, the residual predicate and emit-once are the module
    docstring's band contract, so no dedup pass is needed.  Band skew (a
    hot value range) is the same hot-key problem as any join and
    composes with ``skew.salted_join``.
    """
    exact = F.col(value_col).between(F.col(lo_col), F.col(hi_col))
    lb, rb = _band(value_col, band_width), _bands(lo_col, hi_col, band_width)
    return _band_join(left, right, [], lb, rb, exact)


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
    nearest-before: the as-of joins).

    Both sides explode each interval to the buckets it covers; a pair
    overlapping several shared buckets is kept only in the FIRST one,
    ``bucket_id == greatest(_band(l_start), _band(r_start))`` (module
    docstring, band contract): no distinct pass, no duplicate rows.

    ``bucket`` is in the units of the interval columns (pass epoch
    seconds + bucket=3600 for hourly banding); choose it near the
    typical interval length so the per-row expansion stays ~2. One
    co-partitioned shuffle on (keys, bucket).
    """
    first_shared = F.greatest(_band(l_start, bucket), _band(r_start, bucket))
    exact = (
        (F.col(l_start) <= F.col(r_end))
        & (F.col(r_start) <= F.col(l_end))
        & (F.col("__bucket") == first_shared)
    )
    lb, rb = _bands(l_start, l_end, bucket), _bands(r_start, r_end, bucket)
    return _band_join(left, right, list(keys), lb, rb, exact)
