"""Window operators (SURVEY.md §2.5 W1, generalized)."""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import _col


def top_k_per_group(
    df: DataFrame,
    keys: Iterable[str],
    order_by: Iterable[Column | str],
    k: int = 1,
    rank_col: str | None = None,
) -> DataFrame:
    """Keep the top-k rows per group under an explicit total order.

    Generalizes the reference's most-searched-keyword
    ``row_number().over(partitionBy(month, user_id).orderBy(count desc))``
    (reference ETL_pipeline.py:153-158) — but the caller must supply a
    TOTAL order (include a tiebreak column); the reference's ties are
    broken arbitrarily (SURVEY.md §0.1).

    Physical shape: one hash-partition shuffle on ``keys`` + per-partition
    sort. For k=1 over very hot groups consider the max_by/struct-max
    rewrite (single hash agg, no sort): ``groupBy(keys).agg(max(struct(
    order_cols..., payload)))`` — both are exposed so callers can pick.
    """
    keys = list(keys)
    order = [_col(c) for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*order)
    rn = "__rank" if rank_col is None else rank_col
    out = df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) <= k)
    return out.drop(rn) if rank_col is None else out


def sessionize(
    df: DataFrame,
    keys: Iterable[str],
    ts_col: str,
    gap_seconds: int = 1800,
    order_tiebreak: Iterable[str] = (),
    session_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the previous event of the same key exceeds ``gap_seconds``.

    Classic two-window construction (lag -> boundary flag -> running
    sum), both windows on the SAME partitioning key, so Spark plans ONE
    shuffle + one sort for the whole thing. Integer arithmetic only
    (epoch microseconds) — engine-exact.
    """
    keys = list(keys)
    order = [F.col(ts_col)] + [F.col(c) for c in order_tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    prev_us = F.lag(F.unix_micros(F.col(ts_col))).over(w)
    gap_us = F.unix_micros(F.col(ts_col)) - prev_us
    boundary = F.when(
        prev_us.isNull() | (gap_us > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    return df.withColumn("__b", boundary).withColumn(
        session_col,
        F.sum("__b").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    ).drop("__b")


def top_1_per_group_min(
    df: DataFrame,
    keys: Iterable[str],
    order_by_asc: Iterable[Column],
    payload: Iterable[str],
) -> DataFrame:
    """Top-1 per group as ONE hash aggregate, supporting ASCENDING
    tiebreaks on any orderable type (strings included): ``min(struct(
    order_asc..., payload...))`` picks the row that sorts FIRST.

    To rank by a count DESCENDING with a string tiebreak ASCENDING, pass
    ``[-col("n"), col("event_type")]`` — negating the numeric flips its
    direction while the string stays ascending. Same map-side-combine
    scale advantage as :func:`top_1_per_group_agg` (shuffle carries one
    row per group, no sort)."""
    keys = list(keys)
    order = [c.alias(f"__o{i}") for i, c in enumerate(order_by_asc)]
    payload = list(payload)
    packed = F.min(F.struct(*order, *[F.col(c) for c in payload])).alias("__top")
    out = df.groupBy(*keys).agg(packed)
    return out.select(*keys, *[F.col(f"__top.{c}").alias(c) for c in payload])


def top_1_per_group_agg(
    df: DataFrame,
    keys: Iterable[str],
    order_by: Iterable[Column],
    payload: Iterable[Column | str],
) -> DataFrame:
    """Top-1 per group as a single hash aggregate (no sort, no window).

    ``max(struct(order..., payload...))`` computes the argmax with
    map-side partial aggregation — at 100 TB this beats the window form
    because the shuffle carries one row per group instead of every row.
    ``payload`` is a list of column NAMES (duplicated order columns are fine). ``order_by`` columns must be DESC-semantics-encoded by the caller
    (e.g. pass ``col("count")`` to mean "largest count wins"; for an
    ascending tiebreak on a string column there is no total-order
    negation, so this variant requires numeric/invertible tiebreaks —
    otherwise use :func:`top_k_per_group`).
    """
    keys = list(keys)
    order = [_col(c).alias(f"__o{i}") for i, c in enumerate(order_by)]
    payload = list(payload)
    packed = F.max(F.struct(*order, *[F.col(c) for c in payload])).alias("__top")
    out = df.groupBy(*keys).agg(packed)
    return out.select(*keys, *[F.col(f"__top.{c}").alias(c) for c in payload])


def _pareto_band_prefilter(
    df: DataFrame,
    minimize: str,
    maximize: str,
    gcols: list,
    n_bands: int,
) -> DataFrame:
    """Equal-width band prefilter for the 2-D skyline (result-neutral
    by construction): a row p is dropped only when some STRICTLY-LOWER
    band holds a row q with ``q.maximize >= p.maximize`` — and band
    arithmetic guarantees ``q.minimize < p.minimize`` (q's band starts
    below p's band's start), so q strictly dominates p.  Everything
    kept flows to the exact window pass; nothing correct is lost.

    Cost: one map-side-combined aggregate to <= groups * n_bands rows,
    a tiny window over those rows, and two broadcast joins — no sort of
    the full input.  Intended for few-but-giant groups (the broadcast
    stats table is group-count-sized).
    """
    mx = F.col(maximize).cast("long")
    stats = df.groupBy(*gcols).agg(
        F.min(F.col(minimize).cast("long")).alias("__lo"),
        F.max(F.col(minimize).cast("long")).alias("__hi"),
    ).withColumn(
        "__w",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(__hi - __lo) div {n_bands} + 1"),
        ),
    )
    j = (
        df.join(F.broadcast(stats), gcols)
        if gcols
        else df.crossJoin(F.broadcast(stats))
    )
    j = j.withColumn(
        "__band", F.expr(f"(cast({minimize} as bigint) - __lo) div __w")
    )
    bmax = j.groupBy(*gcols, "__band").agg(F.max(mx).alias("__bmax"))
    wb = (
        Window.partitionBy(*gcols)
        .orderBy("__band")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = bmax.withColumn("__below", F.max("__bmax").over(wb)).select(
        *gcols, "__band", "__below"
    )
    return (
        j.join(F.broadcast(cum), [*gcols, "__band"])
        .filter(F.col("__below").isNull() | (mx > F.col("__below")))
        .drop("__lo", "__hi", "__w", "__band", "__below")
    )


def pareto_front_2d(
    df: DataFrame,
    minimize: str,
    maximize: str,
    group: Iterable[str] = (),
    prefilter_bands: int = 0,
) -> DataFrame:
    """2-D skyline: keep the rows not dominated on (``minimize``,
    ``maximize``) — q dominates p iff q is <= on the minimized column,
    >= on the maximized one, and strictly better on at least one.
    Classic Pareto-front / skyline operator [Börzsönyi et al., ICDE
    2001], per optional ``group``.  Ties on BOTH columns survive
    together (neither dominates).

    Both columns must be numeric and exactly ordered (use integer cents
    for money); the result is then a deterministic row subset — no
    floats, no tiebreak sensitivity.

    Physical shape: ONE hash shuffle on ``group`` + per-group sort
    (two window passes over the same sort order, so Spark plans a
    single Exchange+Sort):

    * ``m_below`` = max(maximize) over rows with strictly smaller
      ``minimize`` (RANGE frame ending at -1 on the integer sort key);
    * ``m_tie``   = max(maximize) among rows with EQUAL ``minimize``;
    * survive iff ``maximize > m_below`` (or no row below) and
      ``maximize == m_tie``.

    Grouped calls parallelize across groups.  For ONE giant group the
    sort dominates; ``prefilter_bands=N`` adds the standard escape: a
    band prefilter buckets ``minimize`` into N equal-width ranges, takes
    per-(group, band) max(maximize) (ONE map-side-combined aggregate to
    <= groups*N rows), and drops every row whose ``maximize`` does not
    exceed the running max of STRICTLY-LOWER bands — any such row is
    provably dominated (a lower band's witness has strictly smaller
    ``minimize`` and >= ``maximize``), so the prefilter never changes
    the result (pytest-pinned), while the window then sorts only
    near-front rows.
    """
    gcols = list(group)
    if prefilter_bands > 0:
        df = _pareto_band_prefilter(
            df, minimize, maximize, gcols, prefilter_bands
        )
    w_below = (
        Window.partitionBy(*gcols)
        .orderBy(F.col(minimize).cast("long"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_tie = Window.partitionBy(*gcols, minimize)
    out = (
        df.withColumn("__m_below", F.max(maximize).over(w_below))
        .withColumn("__m_tie", F.max(maximize).over(w_tie))
        .filter(
            (F.col("__m_below").isNull()
             | (F.col(maximize) > F.col("__m_below")))
            & (F.col(maximize) == F.col("__m_tie"))
        )
        .drop("__m_below", "__m_tie")
    )
    return out


def global_row_number(
    df: DataFrame,
    order_cols: Iterable[Column | str],
    col_name: str = "position",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global rank over a TOTAL order — without the
    single-partition window ``row_number().over(Window.orderBy(...))``
    degenerates to (the classic driver-shaped bottleneck: every row
    funnels through one task).

    Distributed zipWithIndex recipe: range-partition on the order key
    (partition i holds keys <= partition i+1's — RangePartitioner ids
    are range-ordered), sort within partitions, count rows per
    partition (ONE bounded collect — #partitions rows, metadata not
    data, per the repo's scalar-broadcast rule), and emit
    ``offset(pid) + local row_number`` where the prefix offsets go
    back as a LITERAL map expression (``element_at`` on a constant —
    pure codegen, no join: measured 0.9 s vs 6-8 s for the
    broadcast-join formulation of the same lookup at sf0.01, and the
    map is #partitions entries, metadata-sized by construction).  The
    rank depends only on the key's total order — partition BOUNDARIES
    (which repartitionByRange picks by sampling) cannot change the
    result, only the balance; ``localCheckpoint(eager=True)`` pins the
    sampled partitioning so the count pass and the rank pass see the
    same layout.

    ``order_cols`` must be a total order (include a unique tiebreak);
    equal keys would otherwise land in one partition but rank
    arbitrarily within their tie.
    """
    cols = [_col(c) for c in order_cols]
    if not cols:
        raise ValueError("global_row_number: need at least one order col")
    parts = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    )
    pinned = parts.withColumn(
        "__pid", F.spark_partition_id()
    ).localCheckpoint(eager=True)
    counts = sorted(
        (r["__pid"], r["n"])
        for r in pinned.groupBy("__pid").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    )
    entries, acc = [], 0
    for pid, n in counts:
        entries.append(F.lit(pid))
        entries.append(F.lit(acc))
        acc += n
    if not entries:
        entries = [F.lit(0), F.lit(0)]
    off = F.element_at(F.create_map(*entries), F.col("__pid"))
    w = Window.partitionBy("__pid").orderBy(*cols)
    return pinned.withColumn(
        col_name, (off + F.row_number().over(w)).cast("long")
    ).drop("__pid")
