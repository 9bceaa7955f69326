"""Data-layout optimization: Z-order (Morton) clustering keys.

Multi-dimensional min/max file skipping is the highest-leverage scan
optimization after partition pruning: sorting 100 TB of parquet by a
Z-order key over (colA, colB) makes each file's min/max range tight in
BOTH dimensions, so a reader filtering on either column (or both) skips
most files — a linear sort on one column only skips for that column.

``zorder_key`` builds the Morton interleave as a pure JVM expression
tree (shift/and/or — whole-stage-codegen'd, no UDF); ``cluster_by_zorder``
range-partitions + sorts by it (``_range_cluster``, shared with
``cluster_by_hilbert``), which is exactly the write-side layout
Delta/Iceberg OPTIMIZE ZORDER produces.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import _col


def zorder_key(cols: Iterable[Column | str], bits: int = 8) -> Column:
    """Morton-interleave the low ``bits`` bits of each column into one
    BIGINT key. Columns must already be non-negative integers scaled to
    ``[0, 2^bits)`` (callers bucketize/normalize first — rank-based
    normalization keeps skewed columns uniform).

    The expression unrolls to ``bits * n_cols`` shift/mask/or terms —
    constant-folded and codegen'd by Catalyst; at 8 bits x 2 cols the
    whole key is ~32 JVM ops per row, no shuffle, no Python.
    """
    cs = [_col(c) for c in cols]
    n = len(cs)
    if n == 0:
        raise ValueError("zorder_key: need at least one column")
    if bits * n > 63:
        raise ValueError(f"zorder_key: {bits} bits x {n} cols overflows BIGINT")
    out = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cs):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, i * n + j))
    return out


def zorder_key_sql(cols: Iterable[str], bits: int = 8) -> str:
    """The identical interleave as ANSI SQL (oracle twin / pushdown into
    engines that lack a native zorder). Kept in lockstep with
    :func:`zorder_key`."""
    cs = list(cols)
    n = len(cs)
    terms = []
    for i in range(bits):
        for j, c in enumerate(cs):
            terms.append(f"((({c} >> {i}) & 1) << {i * n + j})")
    return " | ".join(terms)


def _range_partition(
    df: DataFrame, cols: list, num_partitions: int | None
) -> DataFrame:
    """``repartitionByRange`` on ``cols``, into ``num_partitions`` when
    given, else into the session's shuffle-partition count."""
    if num_partitions:
        return df.repartitionByRange(num_partitions, *cols)
    return df.repartitionByRange(*cols)


def _range_cluster(
    df: DataFrame, key: Column, num_partitions: int | None
) -> DataFrame:
    """The write-side clustering tail shared by every curve: range-
    partition on ``key``, sort within partitions, drop the key."""
    out = _range_partition(df.withColumn("__key", key), ["__key"], num_partitions)
    return out.sortWithinPartitions("__key").drop("__key")


def cluster_by_zorder(
    df: DataFrame,
    cols: Iterable[Column | str],
    bits: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """Layout rewrite before a write: range-partition on the Z-key (so
    files hold contiguous Z-ranges -> tight per-file min/max on every
    interleaved dimension) and sort within partitions. Downstream:
    ``.write.parquet(...)`` — parquet row-group stats then give readers
    multi-column skipping for free."""
    return _range_cluster(df, zorder_key(cols, bits), num_partitions)


def linear_file_bounds(
    df: DataFrame, cols: list[str], n_files: int
) -> DataFrame:
    """Per-file min/max column bounds of an ``n_files``-file clustered
    write sorted lexicographically by ``cols`` — computed WITHOUT a
    global sort of the fact table (the naive ``ntile`` formulation
    funnels 100 TB through one sorted partition; this never touches
    more than the key-domain aggregate).

    How: aggregate row counts per distinct key tuple (domain-sized,
    not fact-sized), cumulative-sum ranks over the sorted key domain,
    map each key's rank interval ``[start, end)`` to the file span
    ``[floor(start * n_files / total), floor((end-1) * n_files /
    total)]`` it would occupy in the sorted write, explode the span,
    min/max per file.  When ``n_files`` exceeds the row count some
    file ids receive NO rows (``floor(r * n_files / total)`` skips
    them); the span explode would still emit those ids, so the explode
    is followed by a keep-only-nonempty filter: file ``f`` is real iff
    ``ceil(f * total / n_files) < ceil((f+1) * total / n_files)``
    (its rank interval is non-empty) — a no-op whenever
    ``total >= n_files``.  Equal keys may straddle a file boundary, but
    bounds depend only on the sorted key MULTISET, so the result is
    deterministic and exactly SQL-replayable.  The one unpartitioned
    window runs over the key-domain aggregate — callers guarantee the
    domain is bounded (bucketized/low-cardinality keys), which is
    already the precondition for min/max skipping to be useful.

    Returns ``(file_id, <col>_min, <col>_max ... , n_keys)``.
    """
    if n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    keyed = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = keyed.withColumn("end_rank", F.sum("n").over(w)).withColumn(
        "start_rank", F.col("end_rank") - F.col("n")
    )
    total = keyed.agg(F.sum("n").alias("total"))
    spans = (
        cum.crossJoin(F.broadcast(total))
        .withColumn(
            "fs", F.expr(f"(start_rank * {n_files}) div total")
        )
        .withColumn(
            "fe", F.expr(f"((end_rank - 1) * {n_files}) div total")
        )
        .select(
            *cols,
            F.col("total"),
            F.explode(F.sequence("fs", "fe")).alias("file_id"),
        )
        .where(
            F.expr(
                f"(file_id * total + {n_files} - 1) div {n_files}"
                f" < ((file_id + 1) * total + {n_files} - 1) div {n_files}"
            )
        )
        .drop("total")
    )
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    aggs.append(F.count(F.lit(1)).alias("n_keys"))
    return spans.groupBy("file_id").agg(*aggs)


def _derive_hilbert_automaton() -> tuple[list[int], list[int], int]:
    """Derive the Hilbert-curve quad automaton from the textbook
    mutating algorithm's transformation algebra.

    The classic xy2d loop [Hamilton's convention, as in Wikipedia's
    "Hilbert curve" C snippet] mutates (x, y) each round (reflect when
    rx=1∧ry=0, swap when ry=0) — a formulation that EXPLODES if
    unrolled symbolically (each round's x references the previous x
    AND y, ~3^bits term growth).  But the accumulated mutation is
    always one of the dihedral transforms ``cur_x = (swap ? oy : ox)
    ^ fx; cur_y = (swap ? ox : oy) ^ fy`` over the REMAINING original
    bits (the reflection ``n-1-x`` flips every lower bit; consumed
    high bits never get re-read), so the whole walk is a 4-state
    automaton over the ORIGINAL Morton quads: ``digit = DIGIT[state*4
    + quad]; state = NEXT[state*4 + quad]`` — and a state reference
    costs O(1) per round, keeping the unrolled expression LINEAR in
    ``bits``.

    Returns ``(DIGIT, NEXT, n_states)`` with quads indexed
    ``q = 2*x_bit + y_bit``.  Correctness is pinned by
    tests/test_bfs_order_layout.py's exhaustive 16-bit equivalence against
    the literal mutating loop.
    """
    states: dict[tuple[int, int, int], int] = {(0, 0, 0): 0}
    order: list[tuple[int, int, int]] = [(0, 0, 0)]
    digit: dict[tuple[int, int], int] = {}
    nxt: dict[tuple[int, int], int] = {}
    i = 0
    while i < len(order):
        st = order[i]
        i += 1
        sid = states[st]
        swap, fx, fy = st
        for ox in (0, 1):
            for oy in (0, 1):
                cur_x = (oy if swap else ox) ^ fx
                cur_y = (ox if swap else oy) ^ fy
                q = 2 * ox + oy
                digit[(sid, q)] = (3 * cur_x) ^ cur_y
                nswap, nfx, nfy = swap, fx, fy
                if cur_y == 0:
                    if cur_x == 1:
                        nfx ^= 1
                        nfy ^= 1
                    # swap current axes: new cur_x = old cur_y
                    nswap, nfx, nfy = 1 - nswap, nfy, nfx
                ns = (nswap, nfx, nfy)
                if ns not in states:
                    states[ns] = len(order)
                    order.append(ns)
                nxt[(sid, q)] = states[ns]
    n = len(order)
    return (
        [digit[(s, q)] for s in range(n) for q in range(4)],
        [nxt[(s, q)] for s in range(n) for q in range(4)],
        n,
    )


#: 4-state Hilbert quad automaton, derived (not hand-copied) at import.
HILBERT_DIGIT, HILBERT_NEXT, HILBERT_STATES = _derive_hilbert_automaton()


def hilbert_key(x: Column | str, y: Column | str, bits: int = 8) -> Column:
    """Hilbert-curve index of ``(x, y)`` — the locality-BETTER sibling
    of :func:`zorder_key`: the Hilbert walk visits every cell of the
    2^bits x 2^bits grid through unit steps (no Morton "seam jumps"
    across half the plane), so contiguous key ranges are tighter
    rectangles and per-file min/max skipping bounds improve — the
    reason newer table formats (e.g. Apache Iceberg) offer Hilbert
    alongside Z-order for OPTIMIZE clustering.

    Same contract as zorder_key: inputs must be non-negative integers
    in ``[0, 2^bits)``.  Built as ``element_at`` chains over the
    LITERAL automaton arrays — one digit + one state transition per
    bit level, whole-stage-codegen'd, no UDF, no join, expression size
    linear in ``bits``.
    """
    if bits < 1 or 2 * bits > 62:
        raise ValueError(f"hilbert_key: bits={bits} out of range")
    xc = _col(x).cast("long")
    yc = _col(y).cast("long")
    digit_arr = F.array(*[F.lit(v) for v in HILBERT_DIGIT])
    next_arr = F.array(*[F.lit(v) for v in HILBERT_NEXT])
    state: Column = F.lit(0)
    d: Column = F.lit(0).cast("long")
    for i in range(bits - 1, -1, -1):
        q = (
            F.shiftright(xc, i).bitwiseAND(F.lit(1)) * 2
            + F.shiftright(yc, i).bitwiseAND(F.lit(1))
        ).cast("int")
        idx = (state * 4 + q + 1).cast("int")
        d = d * 4 + F.element_at(digit_arr, idx).cast("long")
        state = F.element_at(next_arr, idx)
    return d


def hilbert_key_sql(
    x: str, y: str, bits: int = 8, carry: Iterable[str] = ()
) -> str:
    """The identical automaton walk as chained SQL subqueries (oracle
    twin, kept in lockstep with :func:`hilbert_key`).  Returns a
    ``(SELECT ...)`` fragment exposing ``carry`` columns plus ``hkey``;
    embed as ``FROM {fragment} t``.  Chained levels (one per bit, each
    referencing the previous level's state/digit columns ONCE) keep
    the SQL linear in ``bits`` — the inline-substitution form grows
    ~3^bits.  Uses DuckDB list literals + 1-based list_extract, the
    exact twin of Spark's element_at.
    """
    digit_lst = "[" + ", ".join(str(v) for v in HILBERT_DIGIT) + "]"
    next_lst = "[" + ", ".join(str(v) for v in HILBERT_NEXT) + "]"
    cols = "".join(f"{c}, " for c in carry)  # "" when carry is empty
    sql = f"(SELECT {cols}{x} AS hx, {y} AS hy, 0 AS st0, CAST(0 AS BIGINT) AS d0 FROM __HILBERT_BASE__)"
    for k, i in enumerate(range(bits - 1, -1, -1)):
        q = f"(((hx >> {i}) & 1) * 2 + ((hy >> {i}) & 1))"
        idx = f"(st{k} * 4 + {q} + 1)"
        sql = (
            f"(SELECT {cols}hx, hy, "
            f"list_extract({next_lst}, {idx}) AS st{k + 1}, "
            f"d{k} * 4 + list_extract({digit_lst}, {idx}) AS d{k + 1} "
            f"FROM {sql} t{k})"
        )
    return (
        f"(SELECT {cols}hx, hy, CAST(d{bits} AS BIGINT) AS hkey "
        f"FROM {sql} tf)"
    )


def cluster_by_hilbert(
    df: DataFrame,
    x: Column | str,
    y: Column | str,
    bits: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """Hilbert twin of :func:`cluster_by_zorder`: range-partition +
    sort by the Hilbert index before a write, so parquet row-group
    min/max stats give readers the TIGHTER two-dimensional skipping
    bounds layout_curve_compare measures (total box area ~1.9x smaller
    than Morton on equal-count files at sf0.1)."""
    return _range_cluster(df, hilbert_key(x, y, bits), num_partitions)
