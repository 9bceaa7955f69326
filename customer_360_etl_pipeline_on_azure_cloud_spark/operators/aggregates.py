"""Aggregation operators (SURVEY.md §2.4 A1-A6).

All of these compile to Spark's partial+final hash aggregation (map-side
combine before the shuffle), which is the right shape at 100 TB: the
shuffle carries one row per (partition, group), not per input row.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import _col


def distinct_count(
    df: DataFrame,
    keys: Iterable[str],
    col: str,
    alias: str,
    approx: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """COUNT(DISTINCT col) per group (reference ETL_pipeline.py:41-49).

    Exact distinct-count expands to a two-phase aggregate (dedup on
    (keys, col) then count) — two shuffles. At 100 TB prefer
    ``approx=True``: HyperLogLog++ sketches merge map-side, one shuffle,
    fixed memory per group.
    """
    agg = (
        F.approx_count_distinct(col, rsd=rsd) if approx else F.countDistinct(col)
    ).alias(alias)
    return df.groupBy(*keys).agg(agg)


def sum_pivot(
    df: DataFrame,
    keys: Iterable[str],
    pivot_col: str,
    pivot_values: Sequence[str],
    value_col: Column | str,
    fill: object = 0,
    prefix: str = "",
) -> DataFrame:
    """Long->wide: SUM(value) per (keys, pivot) pivoted to one column per
    pivot value, nulls filled (reference ETL_pipeline.py:79-86).

    ``pivot_values`` is REQUIRED: declaring values up front removes the
    eager distinct-values job Spark otherwise runs (reference
    ETL_pipeline.py:84 pays that extra scan), and makes the output schema
    static. The whole pivot compiles to a single hash aggregate over
    ``keys`` with one conditional-sum per value — one shuffle total, no
    join. The reference's extra pre-aggregation by (keys, pivot) before
    pivoting is subsumed.
    """
    keys = list(keys)
    value_col = _col(value_col)
    out = (
        df.groupBy(*keys)
        .pivot(pivot_col, list(pivot_values))
        .agg(F.sum(value_col))
    )
    if prefix:
        out = out.select(
            *keys,
            *[F.col(v).alias(f"{prefix}{v}") for v in pivot_values],
        )
    if fill is not None:
        out = out.fillna(fill)
    return out


def quantile_agg(
    df: DataFrame,
    col: Column | str,
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """The one-row quantile aggregate behind :func:`quantile_cutoffs`,
    exposed unexecuted so plan tests can pin that the default path is
    ``percentile_approx`` (mergeable sketch), not exact ``percentile``."""
    col = _col(col)
    probs_arr = F.array(*[F.lit(p) for p in probs])
    if exact:
        agg = F.percentile(col, probs_arr)
    else:
        agg = F.percentile_approx(col, probs_arr, F.lit(accuracy))
    return df.select(agg.alias("q"))


def quantile_cutoffs(
    df: DataFrame,
    col: Column | str,
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    exact: bool = False,
    accuracy: int = 10000,
) -> list[float]:
    """Pass 1 of the two-pass scalar pattern: compute quantiles of a
    column and return them as driver-side floats
    (reference ETL_pipeline.py:113-123).

    The DEFAULT is ``exact=False`` (``percentile_approx``, a
    fixed-memory mergeable sketch): exact ``percentile`` materializes
    the whole column in one aggregation buffer, which cannot work at
    100 TB. ``accuracy=10000`` is already exact for inputs with fewer
    than ~10k rows and within 1e-4 relative rank error beyond that —
    far tighter than the reference's hardcoded 100 (SURVEY.md §0.1).
    Pass ``exact=True`` only for small/medium inputs where bit-exact
    interpolated quantiles are required (e.g. oracle-checked queries).

    This collect() moves ONE ROW to the driver — the legitimate
    scalar-broadcast pattern, not a data collect.
    """
    row = quantile_agg(df, col, probs, exact=exact, accuracy=accuracy).first()
    if row is None or row["q"] is None:
        # Empty input: no quantiles exist. NaN cutoffs make every
        # comparison false, so downstream CASEs fall through to their
        # otherwise-branch (the input is empty anyway). The reference
        # instead crashes with an undefined RaiseException
        # (ETL_pipeline.py:264; SURVEY.md §0.1).
        return [float("nan")] * len(probs)
    return list(row["q"])


def two_pass_segment(
    df: DataFrame,
    value_col: str,
    case_builder,
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    exact: bool = False,
    accuracy: int = 10000,
    alias: str = "segment",
) -> DataFrame:
    """Two-pass quantile segmentation (reference ETL_pipeline.py:110-145):
    pass 1 collects the quantile scalars, pass 2 folds them into a CASE
    expression built by ``case_builder(cutoffs) -> Column``.
    """
    cutoffs = quantile_cutoffs(df, value_col, probs, exact=exact, accuracy=accuracy)
    return df.withColumn(alias, case_builder(cutoffs))


def cms_frequencies(
    df: DataFrame,
    col: str,
    candidates: Sequence[str],
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """Count-Min-Sketch frequency estimates for a fixed candidate set —
    the mergeable-sketch answer to "how often does each hot value
    occur" over a stream/corpus too large for exact counting of the
    full key space.

    One global aggregate builds the sketch (fixed
    ``ceil(e/eps) x depth`` integer grid; partial sketches merge by
    cell-wise ADD, so the result is partitioning-independent for a
    fixed seed). The ~KB sketch comes back to the driver — the bounded
    scalar-broadcast pattern — and is probed for the candidate values
    via the JVM ``CountMinSketch`` deserializer. Guarantees:
    ``estimate >= true`` ALWAYS (counters only over-count on
    collision), and ``estimate <= true + eps*N`` with the configured
    confidence. Probing is driver-side and O(len(candidates)) —
    candidates must be a small, known hot-key list (pair with exact
    top-k discovery when the hot set is unknown).
    """
    sketch_bytes = df.agg(
        F.count_min_sketch(
            col, F.lit(float(eps)), F.lit(float(confidence)), F.lit(seed)
        ).alias("s")
    ).collect()[0]["s"]
    jvm = df.sparkSession._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(sketch_bytes)
    )
    rows = [(c, int(cms.estimateCount(c))) for c in candidates]
    return df.sparkSession.createDataFrame(rows, [col, "cms_n"])


def profile_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Data-quality profile: per column, total rows, nulls, exact
    distinct count — the ingest-validation summary every ETL run wants
    before trusting a feed.

    ONE aggregate job for all columns (Spark plans multi-countDistinct
    via a single Expand + aggregate, not a scan per column); the tiny
    wide result is unpivoted to (column, n_rows, n_null, n_distinct)
    rows. At 100 TB swap ``approx=True``-style HLL per column if exact
    distinct is too heavy (see ``distinct_count``); the one-scan shape
    is the point.
    """
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"),
            F.count_distinct(F.col(c)).alias(f"__dist_{c}"),
        ]
    wide = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"__n_{c}").alias("n_rows"),
            F.col(f"__null_{c}").alias("n_null"),
            F.col(f"__dist_{c}").alias("n_distinct"),
        )
        for c in cols
    ]
    return wide.select(
        F.explode(F.array(*per_col)).alias("p")
    ).select("p.column", "p.n_rows", "p.n_null", "p.n_distinct")


def histogram_sketch(
    df: DataFrame,
    value_col: Column | str,
    group_cols: Sequence[str],
    lo: int,
    hi: int,
    nbins: int,
) -> DataFrame:
    """Per-group fixed-width integer histogram — the MERGEABLE quantile
    sketch: ``(group..., bin, cnt)`` with at most ``nbins`` rows per
    group, where ``bin = clamp((v - lo) div ((hi - lo) / nbins),
    0, nbins - 1)`` over an INTEGER value column (use
    ``functions.scalar.money_cents`` for money).  The bin is PURE
    BIGINT division (ADVICE r6: the earlier float form
    ``floor((v-lo)*nbins/span)`` was exact only while the product
    stayed under 2^53); ``div`` truncates toward zero where floor
    would round down, but that difference only arises for v < lo,
    where the clamp sends both to bin 0 — so the result is
    unconditionally exact for any BIGINT input.

    Unlike ``percentile_approx`` state, these sketches merge by PLAIN
    integer addition (sum counts bin-wise), so a per-day sketch table
    replaces re-scanning history for any period quantile — the same
    stop-rescanning contract as the HLL rollup, with a deterministic,
    engine-exact state (every downstream number is arithmetic on
    BIGINT counts, so an external SQL engine replays it bit-for-bit,
    which no serialized-sketch-blob format allows).  Quantile error is
    bounded by one bin width by construction.

    One map-side-combined aggregate over the scan; values outside
    [lo, hi) clamp into the edge bins (keep them, or widen [lo, hi)).
    ``hi - lo`` must divide evenly by ``nbins`` (validated) so bin
    edges are themselves exact integers.
    """
    if not nbins >= 1 or not hi > lo:
        raise ValueError("histogram_sketch: need nbins >= 1 and hi > lo")
    if (hi - lo) % nbins != 0:
        raise ValueError(
            "histogram_sketch: hi - lo must divide evenly by nbins so "
            "bin edges are exact integers (histogram_quantiles derives "
            "bin_lo/bin_hi from the integer width)"
        )
    v = _col(value_col)
    width = (hi - lo) // nbins
    diff = (v - F.lit(lo)).cast("long")
    return (
        df.select(*group_cols, diff.alias("__hdiff"))
        .select(
            *group_cols,
            F.expr(
                f"least({nbins - 1}, greatest(0, __hdiff div {width}))"
            ).alias("bin"),
        )
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantiles(
    hist: DataFrame,
    scope_cols: Sequence[str],
    q_pcts: Sequence[int],
    lo: int,
    hi: int,
    nbins: int,
) -> DataFrame:
    """Quantiles from merged histogram sketches: for each scope group
    and each integer percentile ``q``, the FIRST bin whose cumulative
    count reaches ``ceil(q * total / 100)`` — pure BIGINT arithmetic
    (the ceil is the cross-multiplied ``100 * cum >= q * total``), so
    the result is deterministic and exactly replayable cross-engine.

    Input is the ``histogram_sketch`` row shape after any bin-wise
    count merge; per scope the window runs over at most ``nbins`` rows,
    so the quantile stage costs O(scopes * nbins) regardless of how
    much raw data the sketches summarize.

    Output: ``(scope..., q_pct, bin, bin_lo, bin_hi, cum_le, total)``
    — ``[bin_lo, bin_hi)`` brackets the true quantile (error <= one
    bin width), ``cum_le`` is the cumulative count through the bin.
    """
    from pyspark.sql import Window

    if (hi - lo) % nbins != 0:
        raise ValueError(
            "histogram_quantiles: hi - lo must divide evenly by nbins"
        )
    if not all(1 <= int(q) <= 100 for q in q_pcts):
        raise ValueError(
            "histogram_quantiles: q_pcts must be integer percentiles in "
            "[1, 100] (q=0 has no nearest-rank element)"
        )
    scope = list(scope_cols)
    span = hi - lo
    w_cum = (
        Window.partitionBy(*scope)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*scope)
    cum = hist.select(
        *scope,
        "bin",
        F.sum("cnt").over(w_cum).alias("cum_le"),
        F.sum("cnt").over(w_tot).alias("total"),
    )
    qs = F.explode(
        F.array(*[F.lit(int(q)) for q in q_pcts])
    ).alias("q_pct")
    hit = cum.select(*scope, "bin", "cum_le", "total", qs).filter(
        F.col("cum_le") * 100 >= F.col("q_pct") * F.col("total")
    )
    w_first = Window.partitionBy(*scope, "q_pct").orderBy("bin")
    return (
        hit.withColumn("rk", F.row_number().over(w_first))
        .filter(F.col("rk") == 1)
        .select(
            *scope,
            "q_pct",
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(span // nbins)).alias("bin_lo"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(span // nbins)).alias(
                "bin_hi"
            ),
            "cum_le",
            "total",
        )
    )
