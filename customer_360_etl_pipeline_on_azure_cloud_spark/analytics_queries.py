"""Classic warehouse analytics: TPC-H-shaped multi-join aggregations and
window analytics over the testdata star schema, each with a DuckDB oracle.

These widen the contract surface beyond the reference's own pipeline
shapes (reference ETL_pipeline.py is a single star-join + pivot flow) to
the standard analytics a Customer-360 warehouse runs daily: top-N revenue
ranking across a 3-way fact join, returned-item damage reports, existence
checks, cumulative and rolling window metrics.

Exactness: money goes through integer cents before SUM (associative ->
partition-order independent); every ranking carries a unique tiebreak;
window frames are fully ordered by (ts, unique id). See
testdata_queries.py module docstring for the full rule set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.scalar import money_cents
from .session import tune
from .sources.tables import _t


def _cents_sql(col: str) -> str:
    return f"CAST(ROUND({col} * 100, 0) AS BIGINT)"


#: revenue = extendedprice * (1 - discount), in integer cents.
def _revenue_cents() -> F.Column:
    return F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100, 0
    ).cast("long")


_REVENUE_CENTS_SQL = (
    "CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)"
)


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem,
    top-10 open orders by revenue.

    Scale notes: both date filters and the segment filter are plain
    column predicates that reach the parquet scans (pushed); the
    customer side is reduced to one join column before the join (column
    pruning); the final top-10 is TakeOrderedAndProject (per-partition
    top-10 + driver merge), never a global sort of the join output.
    """
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-03-15"
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > "1998-03-15")
        .select("l_orderkey", _revenue_cents().alias("rev_c"))
    )
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey).join(
        li, orders.o_orderkey == li.l_orderkey
    )
    agg = joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority").agg(
        (F.sum("rev_c").cast("double") / F.lit(100.0)).alias("revenue")
    )
    return (
        agg.select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


SQL_SHIPPING_PRIORITY = f"""
SELECT o_orderkey,
       CAST(SUM({_REVENUE_CENTS_SQL}) AS DOUBLE) / 100.0 AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer in a
    quarter — 4-way join (2 facts, 2 dims), top-20 by damage.

    The nation dim is broadcast (25 rows); the orders/lineitem join is
    the only shuffle pair; top-20 via TakeOrderedAndProject.
    """
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-10-01") & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_orderkey", "o_custkey")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", _revenue_cents().alias("rev_c"))
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    agg = joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        (F.sum("rev_c").cast("double") / F.lit(100.0)).alias("revenue")
    )
    return (
        agg.select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


SQL_RETURNED_ITEM_REVENUE = f"""
SELECT c_custkey, c_name,
       CAST(SUM({_REVENUE_CENTS_SQL}) AS DOUBLE) / 100.0 AS revenue,
       c_acctbal, n_name
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-10-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: priority counts of orders that have at least one
    line shipped >60 days after the order date (existential semi-join
    with an inequality residual on the equi-join).

    The semi-join keeps only the 2-column orders projection; lineitem
    contributes no columns past the probe, so the build side is
    (l_orderkey, l_shipdate) only. At 100 TB this plans as a shuffled
    hash semi-join on orderkey with the date residual evaluated in the
    join, never a join-then-distinct.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-07-01") & (F.col("o_orderdate") < "1997-10-01")
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.date_add(orders.o_orderdate, 60)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


SQL_LATE_SHIP_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate <  TIMESTAMP '1997-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per customer: running SUM over an ordered
    per-key window (the standard 'customer lifetime value so far' view).

    One shuffle (partitionBy custkey), one sort inside the window; the
    running sum is integer cents so the cumulative value is exact at
    every step. Frame order is (o_orderdate, o_orderkey) — a total
    order, so the prefix sums are deterministic.
    """
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate",
        money_cents("o_totalprice").alias("price_c"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.sum("price_c").over(w).cast("double") / F.lit(100.0)).alias(
            "running_total"
        ),
        F.row_number().over(w).cast("long").alias("order_seq"),
    )


SQL_RUNNING_REVENUE = f"""
SELECT o_custkey, o_orderkey,
       CAST(SUM({_cents_sql('o_totalprice')}) OVER w AS DOUBLE) / 100.0 AS running_total,
       ROW_NUMBER() OVER w AS order_seq
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_rolling_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 3-event metrics per user: moving sum + moving average of
    the event value over a ROWS frame (2 PRECEDING .. CURRENT).

    The moving sum is integer cents (exact under any partitioning); the
    average is reconstructed with one division from the exact sum and
    the frame count, so both engines evaluate the identical IEEE tree.
    Frame order (ts, event_id) is total — event_id is unique.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", money_cents("value").alias("value_c")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        (F.sum("value_c").over(w).cast("double") / F.lit(100.0)).alias("moving_sum"),
        (
            F.sum("value_c").over(w).cast("double")
            / F.lit(100.0)
            / F.count(F.lit(1)).over(w).cast("double")
        ).alias("moving_avg"),
    )


SQL_ROLLING_EVENT_VALUE = f"""
SELECT user_id, event_id,
       CAST(SUM({_cents_sql('value')}) OVER w AS DOUBLE) / 100.0 AS moving_sum,
       CAST(SUM({_cents_sql('value')}) OVER w AS DOUBLE) / 100.0
         / CAST(COUNT(*) OVER w AS DOUBLE) AS moving_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


ANALYTICS_QUERIES = {
    "shipping_priority": (q_shipping_priority, SQL_SHIPPING_PRIORITY),
    "returned_item_revenue": (q_returned_item_revenue, SQL_RETURNED_ITEM_REVENUE),
    "late_ship_priority": (q_late_ship_priority, SQL_LATE_SHIP_PRIORITY),
    "running_revenue": (q_running_revenue, SQL_RUNNING_REVENUE),
    "rolling_event_value": (q_rolling_event_value, SQL_ROLLING_EVENT_VALUE),
}


# --- SCD2 history -----------------------------------------------------------


def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history of each user's event_type (operators/scd.py
    scd2_collapse): consecutive same-type events collapse into one
    version with [valid_from, valid_to) bounds — the gaps-and-islands
    construction in pure window algebra, one shuffle on the entity key.
    """
    from .operators.scd import scd2_collapse

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    return scd2_collapse(
        ev, ["user_id"], ["event_type"], ts_col="ts", tiebreak_col="event_id"
    )


SQL_SCD2_USER_STATE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN ROW_NUMBER() OVER w = 1 THEN 1
              WHEN event_type IS DISTINCT FROM LAG(event_type) OVER w THEN 1
              ELSE 0 END AS start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
versioned AS (
  SELECT *, CAST(SUM(start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
  FROM ordered
),
per_version AS (
  SELECT user_id, version, MIN(ts) AS valid_from, MIN(event_type) AS event_type
  FROM versioned GROUP BY user_id, version
)
SELECT user_id, event_type, version, valid_from,
       LEAD(valid_from) OVER wv AS valid_to,
       (LEAD(valid_from) OVER wv IS NULL) AS is_current
FROM per_version
WINDOW wv AS (PARTITION BY user_id ORDER BY version)
"""


def q_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time reconstruction from the SCD2 history: the version
    of each user live at 2024-01-15 (scd2_point_in_time — a plain
    interval-containment filter, no join)."""
    from .operators.scd import scd2_collapse, scd2_point_in_time

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    hist = scd2_collapse(
        ev, ["user_id"], ["event_type"], ts_col="ts", tiebreak_col="event_id"
    )
    snap = scd2_point_in_time(hist, F.lit("2024-01-15").cast("timestamp"))
    return snap.select("user_id", "event_type", "version", "valid_from")


SQL_SCD2_SNAPSHOT = f"""
WITH hist AS ({SQL_SCD2_USER_STATE})
SELECT user_id, event_type, version, valid_from
FROM hist
WHERE valid_from <= TIMESTAMP '2024-01-15'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15')
"""


ANALYTICS_QUERIES["scd2_user_state"] = (q_scd2_user_state, SQL_SCD2_USER_STATE)
ANALYTICS_QUERIES["scd2_snapshot"] = (q_scd2_snapshot, SQL_SCD2_SNAPSHOT)


# --- incremental aggregation + skew-safe join -------------------------------


def q_incremental_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-maintained rollup (operators/incremental.py): lineitem
    arrives as two batches (orderkey parity stands in for two daily
    loads); each batch collapses to its algebraic state table and the
    states merge WITHOUT touching raw rows again. The merged state is
    bit-identical to a from-scratch aggregate — integer-cents sums and
    min/max merge associatively — which is exactly what the oracle
    checks (its SQL is the from-scratch computation)."""
    from .operators.incremental import finalize, merge_partials, partial_aggregate

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_linestatus", "l_shipdate",
        _revenue_cents().alias("rev_c"),
    )
    keys = ["l_returnflag", "l_linestatus"]
    measures = {
        "rev_cents": ("sum", "rev_c"),
        "n_items": ("count", "rev_c"),
        "first_ship": ("min", "l_shipdate"),
        "last_ship": ("max", "l_shipdate"),
    }
    batch_even = li.filter(F.col("l_orderkey") % 2 == 0)
    batch_odd = li.filter(F.col("l_orderkey") % 2 == 1)
    state = merge_partials(
        [
            partial_aggregate(batch_even, keys, measures),
            partial_aggregate(batch_odd, keys, measures),
        ],
        keys,
        measures,
    )
    done = finalize(state, {"avg_rev": ("rev_cents", "n_items")})
    return done.select(
        *keys,
        (F.col("rev_cents").cast("double") / F.lit(100.0)).alias("revenue"),
        "n_items",
        "first_ship",
        "last_ship",
        (F.col("avg_rev") / F.lit(100.0)).alias("avg_revenue"),
    )


SQL_INCREMENTAL_PRICING = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM({_REVENUE_CENTS_SQL}) AS DOUBLE) / 100.0 AS revenue,
       COUNT(*) AS n_items,
       MIN(l_shipdate) AS first_ship,
       MAX(l_shipdate) AS last_ship,
       CAST(SUM({_REVENUE_CENTS_SQL}) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         / 100.0 AS avg_revenue
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def q_skew_salted_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact⋈dim join through the driver contract
    (operators/skew.py salted_join): events join customer on user key
    with salt=8 — each (possibly hot) user key scatters across 8
    sub-keys; the dim side replicates 8x. The aggregate result is
    provably identical to the unsalted join, which is what the oracle
    computes."""
    from .operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").select(
        "user_id", money_cents("value").alias("value_c")
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    joined = salted_join(ev, cust, on="user_id", salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum("value_c").cast("double") / F.lit(100.0)).alias("total_value"),
    )


SQL_SKEW_SALTED_SEGMENTS = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM({_cents_sql('value')}) AS DOUBLE) / 100.0 AS total_value
FROM events
JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


ANALYTICS_QUERIES["incremental_pricing"] = (
    q_incremental_pricing,
    SQL_INCREMENTAL_PRICING,
)
ANALYTICS_QUERIES["skew_salted_segments"] = (
    q_skew_salted_segments,
    SQL_SKEW_SALTED_SEGMENTS,
)


# --- robust outliers + z-order layout ---------------------------------------


def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier profile per event_type: median and
    median-absolute-deviation via exact interpolated percentile (the
    oracle form; percentile_approx is the engine's 100 TB default —
    aggregates.quantile_cutoffs), then count |x - med| > 3*MAD.

    Two aggregate passes over events with a 5-row broadcast between
    them — no window, no sort; both engines evaluate the identical
    IEEE trees (ABS/compare on doubles), so the counts hash-match.
    """
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("dev", F.lit(0.5)).alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("med").alias("med"),
        F.min("mad").alias("mad"),
        F.sum(
            (F.col("dev") > F.lit(3.0) * F.col("mad")).cast("long")
        ).alias("n_outliers"),
    )


SQL_VALUE_OUTLIERS = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, ABS(e.value - m.med) AS dev, m.med
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(dev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       COUNT(*) AS n_events,
       MIN(d.med) AS med,
       MIN(a.mad) AS mad,
       CAST(SUM(CASE WHEN d.dev > 3.0::DOUBLE * a.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad a USING (event_type)
GROUP BY d.event_type
"""


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit (operators/layout.py): Morton-interleave
    (l_partkey mod 256, l_suppkey mod 256), split the Z-range into 64
    contiguous buckets (what 64 clustered files would hold) and report
    each bucket's min/max in BOTH dimensions — the per-file skipping
    bounds a Z-ordered write produces. Pure codegen'd bit arithmetic;
    the oracle replays the identical interleave in SQL
    (zorder_key_sql)."""
    from .operators.layout import zorder_key

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("px"),
        (F.col("l_suppkey") % 256).alias("sx"),
    )
    z = li.withColumn("zkey", zorder_key(["px", "sx"], bits=8))
    return (
        z.groupBy(F.shiftright("zkey", 10).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("px").alias("px_min"),
            F.max("px").alias("px_max"),
            F.min("sx").alias("sx_min"),
            F.max("sx").alias("sx_max"),
        )
    )


def _zorder_layout_sql() -> str:
    from .operators.layout import zorder_key_sql

    z = zorder_key_sql(["px", "sx"], bits=8)
    return f"""
WITH coords AS (
  SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sx FROM lineitem
),
keyed AS (
  SELECT px, sx, ({z}) AS zkey FROM coords
)
SELECT zkey >> 10 AS zbucket,
       COUNT(*) AS n_rows,
       MIN(px) AS px_min, MAX(px) AS px_max,
       MIN(sx) AS sx_min, MAX(sx) AS sx_max
FROM keyed
GROUP BY zbucket
"""


ANALYTICS_QUERIES["value_outliers"] = (q_value_outliers, SQL_VALUE_OUTLIERS)
ANALYTICS_QUERIES["zorder_layout"] = (q_zorder_layout, _zorder_layout_sql())


# --- keyed interval-overlap join --------------------------------------------


def q_session_error_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed interval-overlap join (operators/joins.py
    interval_overlap_join): which user sessions overlap a ±15-minute
    window around one of that user's error events. Both interval sets
    derive from the events fact (sessions via sessionize, windows via
    interval arithmetic), the join explodes each interval to its hourly
    buckets and equi-joins on (user_id, bucket) — one co-partitioned
    shuffle, each overlapping pair emitted exactly once via the
    first-shared-bucket rule, never a cartesian. Interval bounds are
    integer epoch-micros, so the residual overlap predicate is exact.
    """
    from .operators.joins import interval_overlap_join
    from .operators.windows import sessionize

    ev = _t(spark, sf_dir, "events")
    sess = (
        sessionize(ev, ["user_id"], "ts", gap_seconds=1800,
                   order_tiebreak=["event_id"])
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.unix_micros("ts")).alias("s_start_us"),
            F.max(F.unix_micros("ts")).alias("s_end_us"),
        )
    )
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user_id"),
        F.col("event_id").alias("error_id"),
        (F.unix_micros("ts") - 15 * 60 * 1_000_000).alias("w_start_us"),
        (F.unix_micros("ts") + 15 * 60 * 1_000_000).alias("w_end_us"),
    )
    pairs = interval_overlap_join(
        sess,
        err.withColumnRenamed("e_user_id", "user_id"),
        "s_start_us", "s_end_us", "w_start_us", "w_end_us",
        keys=["user_id"],
        bucket=3600.0 * 1_000_000,
    )
    return pairs.select("user_id", "session_id", "error_id")


SQL_SESSION_ERROR_OVERLAP = """
WITH g AS (
  SELECT user_id, event_id, ts,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
), b AS (
  SELECT user_id, event_id, ts,
         CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000 THEN 1 ELSE 0 END AS boundary
  FROM g
), s AS (
  SELECT user_id, event_id, ts,
         CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM b
), sess AS (
  SELECT user_id, session_id,
         MIN(epoch_us(ts)) AS s_start_us, MAX(epoch_us(ts)) AS s_end_us
  FROM s GROUP BY user_id, session_id
), err AS (
  SELECT user_id, event_id AS error_id,
         epoch_us(ts) - 15 * 60 * 1000000 AS w_start_us,
         epoch_us(ts) + 15 * 60 * 1000000 AS w_end_us
  FROM events WHERE event_type = 'error'
)
SELECT sess.user_id, sess.session_id, err.error_id
FROM sess JOIN err ON sess.user_id = err.user_id
 AND sess.s_start_us <= err.w_end_us
 AND err.w_start_us <= sess.s_end_us
"""


ANALYTICS_QUERIES["session_error_overlap"] = (
    q_session_error_overlap,
    SQL_SESSION_ERROR_OVERLAP,
)


# --- stream-stream attribution join -----------------------------------------


def q_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join through the contract
    (streaming/incremental.py stream_stream_interval_join): click events
    join purchase events of the same user landing within 30 minutes —
    the canonical attribution query. Both sides are availableNow file
    streams; with static input the emitted pair set equals the batch
    join bit-for-bit, which is what the oracle computes.
    """
    import os
    import tempfile

    from .streaming.incremental import run_incremental, stream_stream_interval_join

    tune(spark, shuffle_partitions=32)
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema

    def _stream() -> DataFrame:
        s = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .load(sf_dir)
        )
        from .sources.tables import event_ts

        return event_ts(s)

    clicks = (
        _stream()
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"))
    )
    purchases = (
        _stream()
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"))
    )
    joined = stream_stream_interval_join(
        clicks.withColumnRenamed("user_id", "key"),
        purchases.withColumnRenamed("p_user_id", "key"),
        key="key",
        l_ts="click_ts",
        r_ts="purchase_ts",
        max_delay="30 minutes",
    )
    out = joined.select(
        F.col("key").alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
    )
    ckpt = tempfile.mkdtemp(prefix="c360_q_attr_")
    name = f"stream_attr_{os.path.basename(ckpt).split('_')[-1]}"
    # state_partitions=8: join state is keyed by user_id (~1.5k keys at
    # the bench SF) and stream-stream join keeps FOUR state stores per
    # partition (left/right rows + watermark bookkeeping), so the
    # per-partition-per-micro-batch fixed cost (delta file + task +
    # commit) dominates at 32 partitions. Measured min-of-3 at sf0.1:
    # 32 parts = 6.5 s, 8 = 2.2 s, 4 = 1.9 s — 8 keeps headroom for
    # the key count. Size to state cardinality — a 100 TB stream with
    # billions of users wants many partitions.
    run_incremental(
        out, os.path.join(ckpt, "ckpt"), name, mode="append",
        state_partitions=8,
    )
    return spark.table(name)


SQL_STREAMING_ATTRIBUTION = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       epoch_us(c.ts) AS click_ts_us
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


ANALYTICS_QUERIES["streaming_attribution"] = (
    q_streaming_attribution,
    SQL_STREAMING_ATTRIBUTION,
)


# --- grouping sets, histogram, contingency ----------------------------------


def q_priority_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS with grouping_id: totals by
    (status, priority), by priority alone, and grand total in ONE pass
    (Spark plans a single Expand + hash aggregate — at scale this beats
    three jobs + union by reading the fact once)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(money_cents("o_totalprice")).cast("double") / F.lit(100.0)).alias(
                "total"
            ),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


SQL_PRIORITY_GROUPING_SETS = f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM({_cents_sql('o_totalprice')}) AS DOUBLE) / 100.0 AS total,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (20 bins over [0, 500)) of event values per
    event_type — one hash aggregate over a computed bin column. The bin
    uses explicit FLOOR arithmetic (identical IEEE tree on both
    engines) rather than width_bucket, whose internal rounding is
    implementation-defined."""
    ev = _t(spark, sf_dir, "events")
    bin_col = F.floor(F.col("value") / F.lit(25.0)).cast("long")
    return (
        ev.withColumn("bin", bin_col)
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bin_lo", F.col("bin").cast("double") * F.lit(25.0))
    )


SQL_VALUE_HISTOGRAM = """
SELECT event_type, CAST(FLOOR(value / 25.0::DOUBLE) AS BIGINT) AS bin,
       COUNT(*) AS n,
       CAST(CAST(FLOOR(value / 25.0::DOUBLE) AS BIGINT) AS DOUBLE)
         * 25.0::DOUBLE AS bin_lo
FROM events
GROUP BY 1, 2, 4
"""


def q_segment_event_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency profile of market segment x event type:
    observed counts, independence-expected counts and per-cell chi-square
    contributions. Counts aggregate exactly (integers); the expected /
    contribution doubles are derived per-cell with identical expression
    trees on both engines, and no doubles are ever re-aggregated (the
    float-sum partition-order trap). Row/column/grand totals come from
    window sums over the 25-cell table — no extra scan."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    cells = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    w_row = Window.partitionBy("c_mktsegment")
    w_col = Window.partitionBy("event_type")
    w_all = Window.partitionBy()
    out = (
        cells.withColumn("row_tot", F.sum("obs").over(w_row))
        .withColumn("col_tot", F.sum("obs").over(w_col))
        .withColumn("grand_tot", F.sum("obs").over(w_all))
    )
    exp = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("grand_tot").cast("double")
    )
    diff = F.col("obs").cast("double") - F.col("expected")
    return (
        out.withColumn("expected", exp)
        .withColumn("chisq", diff * diff / F.col("expected"))
        .select("c_mktsegment", "event_type", "obs", "expected", "chisq")
    )


SQL_SEGMENT_EVENT_CHISQ = """
WITH cells AS (
  SELECT c_mktsegment, event_type, COUNT(*) AS obs
  FROM events JOIN customer ON user_id = c_custkey
  GROUP BY c_mktsegment, event_type
), tot AS (
  SELECT c_mktsegment, event_type, obs,
         SUM(obs) OVER (PARTITION BY c_mktsegment) AS row_tot,
         SUM(obs) OVER (PARTITION BY event_type) AS col_tot,
         SUM(obs) OVER () AS grand_tot
  FROM cells
)
SELECT c_mktsegment, event_type, obs,
       CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
         / CAST(grand_tot AS DOUBLE) AS expected,
       (CAST(obs AS DOUBLE) - (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
         / CAST(grand_tot AS DOUBLE)))
       * (CAST(obs AS DOUBLE) - (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
         / CAST(grand_tot AS DOUBLE)))
       / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
         / CAST(grand_tot AS DOUBLE)) AS chisq
FROM tot
"""


ANALYTICS_QUERIES["priority_grouping_sets"] = (
    q_priority_grouping_sets,
    SQL_PRIORITY_GROUPING_SETS,
)
ANALYTICS_QUERIES["value_histogram"] = (q_value_histogram, SQL_VALUE_HISTOGRAM)
ANALYTICS_QUERIES["segment_event_chisq"] = (
    q_segment_event_chisq,
    SQL_SEGMENT_EVENT_CHISQ,
)


# --- argmin join, HOF vector stats, top-k>1, NTILE --------------------------


def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated min subquery): for each part sold at
    its minimum extended price, which supplier sells it at that price.
    Decorrelated the Spark-first way: per-part min as ONE partial-agg'd
    aggregate, broadcast back against the fact — never a per-row
    subquery. Ties on the min price are resolved by keeping every
    (part, supplier) at the min (set semantics, dedup'd), exactly what
    the oracle's correlated predicate does."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", money_cents("l_extendedprice").alias("price_c")
    )
    mins = li.groupBy("l_partkey").agg(F.min("price_c").alias("min_price_c"))
    at_min = (
        li.join(F.broadcast(mins), "l_partkey")
        .filter(F.col("price_c") == F.col("min_price_c"))
        .select("l_partkey", "l_suppkey", "min_price_c")
        .distinct()
    )
    return at_min.select(
        "l_partkey",
        "l_suppkey",
        (F.col("min_price_c").cast("double") / F.lit(100.0)).alias("min_price"),
    )


SQL_CHEAPEST_SUPPLIER_PER_PART = f"""
WITH priced AS (
  SELECT l_partkey, l_suppkey, {_cents_sql('l_extendedprice')} AS price_c
  FROM lineitem
)
SELECT DISTINCT l_partkey, l_suppkey,
       CAST(price_c AS DOUBLE) / 100.0 AS min_price
FROM priced p
WHERE price_c = (SELECT MIN(price_c) FROM priced m
                 WHERE m.l_partkey = p.l_partkey)
"""


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order-function vector statistics: per-embedding dimension,
    L2 norm and max |component| via zip_with/aggregate/transform — all
    JVM-side, no UDF, narrow map. The norm uses the same sequential
    fold as the ANN operators, so DuckDB's list_dot_product twin is
    bit-identical."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.sqrt(_dot_local(v, v)).alias("l2_norm"),
        F.array_max(F.transform(v, lambda x: F.abs(x))).alias("max_abs"),
    )


def _dot_local(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


SQL_EMBEDDING_NORMS = """
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS l2_norm,
       list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS max_abs
FROM embeddings
"""


def q_top3_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top-k per group with k>1 (operators/windows.py top_k_per_group):
    each supplier's 3 highest-revenue lineitems under a total order
    (revenue desc, orderkey, linenumber). One shuffle + per-partition
    sort; rank exposed."""
    from .operators.windows import top_k_per_group

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        _revenue_cents().alias("rev_c"),
    )
    out = top_k_per_group(
        li,
        ["l_suppkey"],
        [F.col("rev_c").desc(), F.col("l_orderkey"), F.col("l_linenumber")],
        k=3,
        rank_col="rk",
    )
    return out.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        (F.col("rev_c").cast("double") / F.lit(100.0)).alias("revenue"),
        F.col("rk").cast("long").alias("rk"),
    )


SQL_TOP3_PARTS_PER_SUPPLIER = f"""
WITH ranked AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         {_REVENUE_CENTS_SQL} AS rev_c,
         ROW_NUMBER() OVER (PARTITION BY l_suppkey
             ORDER BY {_REVENUE_CENTS_SQL} DESC, l_orderkey, l_linenumber) AS rk
  FROM lineitem
)
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(rev_c AS DOUBLE) / 100.0 AS revenue, rk
FROM ranked WHERE rk <= 3
"""


def q_order_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth bucketing via NTILE(4) under a total order
    (totalprice cents, orderkey tiebreak): per-quartile row counts and
    exact min/max bounds — the distribution summary an equi-depth
    histogram build produces.

    SCALE NOTE: an unpartitioned window is a single-partition sort —
    this exact-tiling form is the ORACLE/small-data path. At 100 TB use
    aggregates.quantile_cutoffs (approx percentile cutoffs, one
    mergeable-sketch aggregate) + bucketize: same buckets up to sketch
    error, no global sort."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", money_cents("o_totalprice").alias("price_c")
    )
    w = Window.orderBy("price_c", "o_orderkey")
    tiled = o.withColumn("quartile", F.ntile(4).over(w).cast("long"))
    return tiled.groupBy("quartile").agg(
        F.count(F.lit(1)).alias("n"),
        (F.min("price_c").cast("double") / F.lit(100.0)).alias("lo"),
        (F.max("price_c").cast("double") / F.lit(100.0)).alias("hi"),
    )


SQL_ORDER_VALUE_QUARTILES = f"""
WITH tiled AS (
  SELECT {_cents_sql('o_totalprice')} AS price_c,
         CAST(NTILE(4) OVER (ORDER BY {_cents_sql('o_totalprice')}, o_orderkey)
              AS BIGINT) AS quartile
  FROM orders
)
SELECT quartile, COUNT(*) AS n,
       CAST(MIN(price_c) AS DOUBLE) / 100.0 AS lo,
       CAST(MAX(price_c) AS DOUBLE) / 100.0 AS hi
FROM tiled GROUP BY quartile
"""


ANALYTICS_QUERIES["cheapest_supplier_per_part"] = (
    q_cheapest_supplier_per_part,
    SQL_CHEAPEST_SUPPLIER_PER_PART,
)
ANALYTICS_QUERIES["embedding_norms"] = (q_embedding_norms, SQL_EMBEDDING_NORMS)
ANALYTICS_QUERIES["top3_parts_per_supplier"] = (
    q_top3_parts_per_supplier,
    SQL_TOP3_PARTS_PER_SUPPLIER,
)
ANALYTICS_QUERIES["order_value_quartiles"] = (
    q_order_value_quartiles,
    SQL_ORDER_VALUE_QUARTILES,
)


# --- MERGE upsert + snapshot diff (CDC) -------------------------------------


def _orders_update_batch(o: DataFrame) -> DataFrame:
    """Deterministic synthetic update batch: every 7th order gets +10%
    price and URGENT priority; every 13th NEW key (beyond the max) is an
    insert. Pure expressions over the orders scan — replayable in SQL."""
    upd = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn(
            "o_totalprice",
            (money_cents("o_totalprice") * 110).cast("double") / F.lit(10000.0),
        )
        .withColumn("o_orderpriority", F.lit("1-URGENT"))
    )
    ins = (
        o.filter(F.col("o_orderkey") % 13 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
    )
    return upd.unionByName(ins)


_ORDERS_UPDATE_SQL = """
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) * 110 AS DOUBLE)
           / 10000.0 AS o_totalprice,
         o_orderdate, '1-URGENT' AS o_orderpriority
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 13 = 0
"""


def q_orders_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO through the contract (operators/upsert.py
    merge_upsert): a synthetic update batch (price bumps + new keys)
    merged into orders with whole-row update semantics — LeftAnti on
    the key + append, one join, no window. The summary aggregate proves
    update rows replaced (not duplicated) and inserts landed."""
    from .operators.upsert import merge_upsert

    o = _t(spark, sf_dir, "orders")
    merged = merge_upsert(o, _orders_update_batch(o), keys=["o_orderkey"])
    return merged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(money_cents("o_totalprice")).cast("double") / F.lit(100.0)).alias(
            "total"
        ),
    )


SQL_ORDERS_UPSERT = f"""
WITH updates AS ({_ORDERS_UPDATE_SQL}),
merged AS (
  SELECT * FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = o.o_orderkey)
  UNION ALL
  SELECT * FROM updates
)
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM({_cents_sql('o_totalprice')}) AS DOUBLE) / 100.0 AS total
FROM merged GROUP BY o_orderpriority
"""


def q_orders_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / change-data feed (operators/upsert.py
    snapshot_diff): old orders vs post-merge orders — one full-outer
    join on the key, null-safe column comparison, unchanged keys
    dropped. Emits exactly the update batch's effect: 'update' rows for
    the price bumps, 'insert' rows for the new keys."""
    from .operators.upsert import merge_upsert, snapshot_diff

    o = _t(spark, sf_dir, "orders")
    new = merge_upsert(o, _orders_update_batch(o), keys=["o_orderkey"])
    diff = snapshot_diff(
        o, new, keys=["o_orderkey"],
        compare_cols=["o_totalprice", "o_orderpriority"],
    )
    return diff.select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "change_type"
    )


SQL_ORDERS_CHANGE_FEED = f"""
WITH updates AS ({_ORDERS_UPDATE_SQL}),
merged AS (
  SELECT * FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = o.o_orderkey)
  UNION ALL
  SELECT * FROM updates
)
SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
       COALESCE(n.o_totalprice, o.o_totalprice) AS o_totalprice,
       COALESCE(n.o_orderpriority, o.o_orderpriority) AS o_orderpriority,
       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
            WHEN n.o_orderkey IS NULL THEN 'delete'
            WHEN n.o_totalprice IS DISTINCT FROM o.o_totalprice
              OR n.o_orderpriority IS DISTINCT FROM o.o_orderpriority
            THEN 'update' END AS change_type
FROM orders o FULL OUTER JOIN merged n ON o.o_orderkey = n.o_orderkey
WHERE (o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR n.o_totalprice IS DISTINCT FROM o.o_totalprice
       OR n.o_orderpriority IS DISTINCT FROM o.o_orderpriority)
"""


ANALYTICS_QUERIES["orders_upsert"] = (q_orders_upsert, SQL_ORDERS_UPSERT)
ANALYTICS_QUERIES["orders_change_feed"] = (
    q_orders_change_feed,
    SQL_ORDERS_CHANGE_FEED,
)


# --- funnel + cohort retention ----------------------------------------------


def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (click -> view -> purchase): per user, the first
    click, the first view AFTER that click, the first purchase AFTER
    that view; funnel_stage = how deep the user got. Three aggregate
    passes with per-user scalar joins between them (each a partial-agg'd
    shuffle on user_id — the stages reuse one partitioning); timestamps
    compare as exact integer micros."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    t1 = ev.filter(F.col("event_type") == "click").groupBy("user_id").agg(
        F.min("us").alias("t1")
    )
    t2 = (
        ev.filter(F.col("event_type") == "view")
        .join(t1, "user_id")
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    users = ev.select("user_id").distinct()
    out = (
        users.join(t1, "user_id", "left")
        .join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
    )
    stage = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return out.select(
        "user_id", stage.cast("long").alias("funnel_stage"), "t1", "t2", "t3"
    )


SQL_FUNNEL_STAGES = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
), t1 AS (
  SELECT user_id, MIN(us) AS t1 FROM ev WHERE event_type = 'click'
  GROUP BY user_id
), t2 AS (
  SELECT e.user_id, MIN(us) AS t2 FROM ev e JOIN t1 USING (user_id)
  WHERE event_type = 'view' AND us > t1 GROUP BY e.user_id
), t3 AS (
  SELECT e.user_id, MIN(us) AS t3 FROM ev e JOIN t2 USING (user_id)
  WHERE event_type = 'purchase' AND us > t2 GROUP BY e.user_id
)
SELECT u.user_id,
       CAST(CASE WHEN t3 IS NOT NULL THEN 3
                 WHEN t2 IS NOT NULL THEN 2
                 WHEN t1 IS NOT NULL THEN 1
                 ELSE 0 END AS BIGINT) AS funnel_stage,
       t1, t2, t3
FROM (SELECT DISTINCT user_id FROM ev) u
LEFT JOIN t1 USING (user_id)
LEFT JOIN t2 USING (user_id)
LEFT JOIN t3 USING (user_id)
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day,
    distinct active users per (cohort_day, day_offset). Two aggregates
    sharing the user_id partitioning (first-day scalar broadcast back),
    integer day arithmetic only."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).alias("day"),
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(F.broadcast(first), "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


SQL_COHORT_RETENTION = """
WITH ev AS (
  SELECT user_id, CAST(FLOOR(epoch_us(ts) / 86400000000.0::DOUBLE) AS BIGINT) AS day
  FROM events
), first AS (
  SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id
)
SELECT cohort_day, day - cohort_day AS day_offset,
       COUNT(DISTINCT user_id) AS n_users
FROM ev JOIN first USING (user_id)
GROUP BY cohort_day, day_offset
"""


ANALYTICS_QUERIES["funnel_stages"] = (q_funnel_stages, SQL_FUNNEL_STAGES)
ANALYTICS_QUERIES["cohort_retention"] = (q_cohort_retention, SQL_COHORT_RETENTION)


# --- weighted deterministic sampling ----------------------------------------


def q_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling (operators/sampling.py
    weighted_sample): keep probability min(1, 0.5 * n_chars/500) — long
    documents survive at a higher rate. The md5 gate compares integers
    (hex prefix -> integer vs per-row floored threshold), so the oracle
    replays the exact selection; no randomness, no layout dependence,
    no shuffle."""
    from .operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars", "source")
    w = F.col("n_chars").cast("double") / F.lit(500.0)
    return weighted_sample(docs, "doc_id", w, base_rate=0.5)


SQL_WEIGHTED_DOC_SAMPLE = """
SELECT doc_id, n_chars, source
FROM documents
WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
    < CAST(FLOOR(LEAST(1.0::DOUBLE,
                       0.5::DOUBLE * (CAST(n_chars AS DOUBLE) / 500.0::DOUBLE))
                 * 4294967296.0::DOUBLE) AS BIGINT)
"""


ANALYTICS_QUERIES["weighted_doc_sample"] = (
    q_weighted_doc_sample,
    SQL_WEIGHTED_DOC_SAMPLE,
)


# --- referential-integrity audit --------------------------------------------


def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest validation: orphan counts across the star schema's FK
    edges (lineitem->orders, lineitem->part, lineitem->supplier,
    orders->customer) — each edge one LeftAnti join against a
    key-projected dim, counted. Anti joins build only the key column;
    the four audits are independent scans unioned into one 4-row
    report (at 100 TB run them in one job — Spark schedules the
    branches concurrently)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    edges = [
        ("lineitem->orders",
         li.select(F.col("l_orderkey").alias("k")),
         o.select(F.col("o_orderkey").alias("k"))),
        ("lineitem->part",
         li.select(F.col("l_partkey").alias("k")),
         _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("k"))),
        ("lineitem->supplier",
         li.select(F.col("l_suppkey").alias("k")),
         _t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("k"))),
        ("orders->customer",
         o.select(F.col("o_custkey").alias("k")),
         _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))),
    ]
    reports = [
        child.join(parent, "k", "left_anti").agg(
            F.lit(edge).alias("fk_edge"),
            F.count(F.lit(1)).alias("n_orphans"),
        )
        for edge, child, parent in edges
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


SQL_REFERENTIAL_INTEGRITY = """
SELECT 'lineitem->orders' AS fk_edge, COUNT(*) AS n_orphans
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'lineitem->part', COUNT(*)
FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
UNION ALL
SELECT 'lineitem->supplier', COUNT(*)
FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
UNION ALL
SELECT 'orders->customer', COUNT(*)
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
"""


ANALYTICS_QUERIES["referential_integrity"] = (
    q_referential_integrity,
    SQL_REFERENTIAL_INTEGRITY,
)


# --- ratio-to-report window (share of total) --------------------------------


def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each nation's share of its region's revenue — the ratio-to-report
    window every BI layer ships. Revenue aggregates as integer cents
    (associative, layout-independent); the share divides the two exact
    integers in doubles with the identical expression tree on both
    engines.

    Scale notes: the heavy work is one partial-aggregated groupBy on the
    fact table; the window runs over the 25-row nation aggregate —
    window cost is independent of fact size.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", _revenue_cents().alias("c"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    per_nation = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum("c").alias("revenue_cents"))
    )
    w = Window.partitionBy("r_name")
    return per_nation.select(
        "r_name",
        "n_name",
        "revenue_cents",
        (
            F.col("revenue_cents").cast("double")
            / F.sum("revenue_cents").over(w).cast("double")
        ).alias("region_share"),
    )


SQL_NATION_REVENUE_SHARE = f"""
WITH per_nation AS (
  SELECT r.r_name, n.n_name, SUM({_REVENUE_CENTS_SQL}) AS revenue_cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
)
SELECT r_name, n_name, CAST(revenue_cents AS BIGINT) AS revenue_cents,
       CAST(revenue_cents AS DOUBLE)
         / CAST(SUM(revenue_cents) OVER (PARTITION BY r_name) AS DOUBLE)
         AS region_share
FROM per_nation
"""


ANALYTICS_QUERIES["nation_revenue_share"] = (
    q_nation_revenue_share,
    SQL_NATION_REVENUE_SHARE,
)


# --- calendar gap-fill with LOCF --------------------------------------------


def q_daily_value_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize the per-type daily value series onto a complete
    calendar: build the (day x event_type) scaffold from the observed
    date bounds, left-join the actual daily sums, and carry the last
    observation forward (leading gaps fill 0). The standard time-series
    densification before charting/forecasting.

    Scale notes: the scaffold is dimension-sized (days x types — KBs
    even for a decade) and broadcast; the fact side is one partial
    aggregation. The LOCF window runs on the scaffold-sized result,
    never on raw events, so its cost is independent of fact volume.
    """
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type"),
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    daily = ev.groupBy("event_type", "day").agg(F.sum("c").alias("cents"))
    bounds = daily.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    days = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 day"))).alias("day")
    )
    types = daily.select("event_type").distinct()
    scaffold = days.crossJoin(types)
    filled = scaffold.join(daily, ["event_type", "day"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        "day",
        F.coalesce(F.last("cents", ignorenulls=True).over(w), F.lit(0)).alias(
            "filled_cents"
        ),
    )


SQL_DAILY_VALUE_GAPFILL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS cents
  FROM events GROUP BY 1, 2
),
days AS (
  SELECT CAST(unnest(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY))
              AS DATE) AS day
  FROM daily
),
scaffold AS (SELECT t.event_type, d.day
             FROM (SELECT DISTINCT event_type FROM daily) t CROSS JOIN days d)
SELECT s.event_type, s.day,
       CAST(COALESCE(last_value(daily.cents IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT)
         AS filled_cents
FROM scaffold s
LEFT JOIN daily ON s.event_type = daily.event_type AND s.day = daily.day
"""


ANALYTICS_QUERIES["daily_value_gapfill"] = (
    q_daily_value_gapfill,
    SQL_DAILY_VALUE_GAPFILL,
)


# --- sliding-window distinct users ------------------------------------------


def q_sliding_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active users per 6-hour window sliding every 2 hours —
    the overlapping-window engagement metric, via Spark's native
    ``window()`` generator (each event expands into window/slide = 3
    instances; epoch-aligned, so the oracle regenerates the instances
    with integer epoch arithmetic).

    Scale notes: the expansion factor is window/slide (bounded, here
    3x); exact countDistinct is the two-shuffle plan — beyond ~10^9
    events switch to approx_count_distinct (HLL, one shuffle, mergeable)
    exactly as in supplier_distinct_parts(approx=True).
    """
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours", "2 hours").alias("w"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            F.col("n_users"),
        )
    )


SQL_SLIDING_ACTIVE_USERS = """
WITH inst AS (
  SELECT user_id,
         (epoch_us(ts) - epoch_us(ts) % CAST(7200000000 AS BIGINT))
           - k.k * CAST(7200000000 AS BIGINT) AS win_start_us
  FROM events, (SELECT unnest([0, 1, 2]) AS k) k
)
SELECT win_start_us, COUNT(DISTINCT user_id) AS n_users
FROM inst GROUP BY 1
"""


ANALYTICS_QUERIES["sliding_active_users"] = (
    q_sliding_active_users,
    SQL_SLIDING_ACTIVE_USERS,
)


# --- cumulative distinct users (growth curve) -------------------------------


def q_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of distinct users ever seen, per day — the growth
    curve. A naive running-distinct needs per-row distinct state; the
    scalable identity is: distinct-so-far(d) = count of users whose
    FIRST event day <= d. One first-seen aggregation (partial-agg
    friendly), one day-level count, one cumulative window over the tiny
    day axis.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    per_day = first_seen.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_day.select(
        F.col("first_day").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


SQL_CUMULATIVE_UNIQUE_USERS = """
WITH first_seen AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY user_id
),
per_day AS (
  SELECT first_day, COUNT(*) AS new_users FROM first_seen GROUP BY first_day
)
SELECT first_day AS day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY first_day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM per_day
"""


ANALYTICS_QUERIES["cumulative_unique_users"] = (
    q_cumulative_unique_users,
    SQL_CUMULATIVE_UNIQUE_USERS,
)


# --- event-transition matrix (path analysis) --------------------------------


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts over per-user event sequences: for each
    consecutive (prev event, next event) pair in a user's timeline,
    how often does it occur corpus-wide? One LAG window per user (the
    same single partitioning sessionization uses), then a partial-agg
    count — the path-analysis primitive behind funnels and next-action
    models. The (ts, event_id) order is total, so sequences are
    deterministic.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY 1, 2
"""


ANALYTICS_QUERIES["event_transitions"] = (
    q_event_transitions,
    SQL_EVENT_TRANSITIONS,
)


# --- export shard balance audit ---------------------------------------------


def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export sharding: assign every document to one of 16
    shards by md5 hash (the deterministic global shuffle a training-data
    export runs before writing), and report per-shard doc/token totals —
    the balance audit that catches hot shards before a 1000-writer job.
    The gate is the same engine-portable md5 integer used across the
    sampling family, so shard membership is reproducible anywhere.
    """
    from .operators.sampling import gate_int

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("long").alias("ntok"),
    )
    return (
        d.withColumn("shard", gate_int(F.col("doc_id")) % 16)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("n_tokens"),
        )
    )


SQL_SHARD_BALANCE = """
SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         % 16 AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS n_tokens
FROM documents
GROUP BY 1
"""


ANALYTICS_QUERIES["shard_balance"] = (q_shard_balance, SQL_SHARD_BALANCE)


def q_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts are linked when
    they appear in the same order), 3 iterations of integer fixed-point
    arithmetic (operators/graph.py pagerank_fixed) — the web-graph
    centrality signal corpus-curation pipelines use for source quality
    (and a warehouse uses for product affinity), made engine-exact.

    Scale notes: edges build from ONE shuffle of the (orderkey,
    partkey) projection — collect_set per order, then the ordered
    pairs expand IN-ROW (lines-per-order is bounded ~7, so the
    per-row expansion is tiny) instead of a self-join that re-shuffles
    the projection twice; measured ~35%% faster than the equivalent
    self-join at sf0.1 with the identical distinct pair set.  Each
    PageRank round shuffles O(|parts|) partial sums (map-side combine
    over the dst key), never the edge list — the rank vector is
    vertex-sized.  Integer div/sum makes the result independent of
    partitioning and engine: no float summation-order drift, so the
    oracle can unroll the same three rounds.
    """
    from .operators.graph import pagerank_fixed

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    grouped = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    pairs = (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x -> "
                    "transform(ps, y -> struct(x AS src, y AS dst))))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst"))
    )
    ranks = pagerank_fixed(pairs, iterations=3, damping_pct=85)
    return ranks.select(F.col("id").alias("part_id"), "rank_fp")


SQL_PART_PAGERANK = """
-- Replays pagerank_fixed's integer fixed-point recurrence exactly:
-- r0 = scale//N; r' = ((100-85)*(scale//N))//100
--                   + (85 * SUM_{u->v}(r(u)//outdeg(u)))//100
-- (integer ops are associative -> engine-exact; // == Spark's div on
-- the all-positive values here).
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
-- MATERIALIZED: the CTE is referenced 7x (deg + 3 rounds x 2); without
-- it DuckDB inlines the 24M-row pair join everywhere and the oracle
-- exhausts a single box at sf1-shape (observed; 9s with the hint).
pairs AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
verts AS (SELECT u AS id FROM pairs UNION SELECT v FROM pairs),
nn AS (SELECT COUNT(*) AS n FROM verts),
c0 AS (SELECT CAST(1000000000000 // n AS BIGINT) AS init,
              CAST((15 * (1000000000000 // n)) // 100 AS BIGINT) AS base
       FROM nn),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS outdeg FROM pairs GROUP BY u),
r0 AS (SELECT id, (SELECT init FROM c0) AS r FROM verts),
m1 AS (SELECT p.v AS id, SUM(r0.r // d.outdeg) AS s
       FROM pairs p JOIN r0 ON r0.id = p.u JOIN deg d ON d.u = p.u
       GROUP BY p.v),
r1 AS (SELECT verts.id,
              CAST((SELECT base FROM c0)
                   + (85 * COALESCE(m1.s, 0)) // 100 AS BIGINT) AS r
       FROM verts LEFT JOIN m1 ON m1.id = verts.id),
m2 AS (SELECT p.v AS id, SUM(r1.r // d.outdeg) AS s
       FROM pairs p JOIN r1 ON r1.id = p.u JOIN deg d ON d.u = p.u
       GROUP BY p.v),
r2 AS (SELECT verts.id,
              CAST((SELECT base FROM c0)
                   + (85 * COALESCE(m2.s, 0)) // 100 AS BIGINT) AS r
       FROM verts LEFT JOIN m2 ON m2.id = verts.id),
m3 AS (SELECT p.v AS id, SUM(r2.r // d.outdeg) AS s
       FROM pairs p JOIN r2 ON r2.id = p.u JOIN deg d ON d.u = p.u
       GROUP BY p.v),
r3 AS (SELECT verts.id,
              CAST((SELECT base FROM c0)
                   + (85 * COALESCE(m3.s, 0)) // 100 AS BIGINT) AS r
       FROM verts LEFT JOIN m3 ON m3.id = verts.id)
SELECT id AS part_id, r AS rank_fp FROM r3
"""

ANALYTICS_QUERIES["part_pagerank"] = (q_part_pagerank, SQL_PART_PAGERANK)


def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation audit over the orders load
    (operators/quality.py): five constraint classes — not-null, key
    uniqueness, range, accepted values, and lineitem->orders
    referential integrity — as ``(rule, total, violations, passed)``
    rows.  This is the pre-promotion gate a warehouse runs on every
    load (Delta expectations re-expressed engine-side); the reference
    pipeline has no validation at all.

    Scale notes: the four conditional rules AND the uniqueness
    distinct-count fold into ONE hash aggregate over one scan of
    orders (adding a rule adds a column, not a pass); the referential
    rule is a left-anti join against the pruned distinct key column,
    broadcast by AQE when small.  Null predicates count as violations
    (coalesce(cond, false)) identically in both engines.
    """
    from .operators.quality import check_referential, check_rules

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rules = [
        ("orders.o_orderkey.not_null", F.col("o_orderkey").isNotNull()),
        ("orders.o_totalprice.positive", F.col("o_totalprice") > 0),
        (
            "orders.o_orderstatus.accepted",
            F.col("o_orderstatus").isin("F", "O", "P"),
        ),
        (
            "orders.o_orderdate.range",
            (F.col("o_orderdate") >= "1992-01-01")
            & (F.col("o_orderdate") < "2031-01-01"),
        ),
    ]
    audit = check_rules(
        orders, rules, unique_keys={"orders.o_orderkey.unique": ["o_orderkey"]}
    )
    ref = check_referential(
        li, orders, [("l_orderkey", "o_orderkey")],
        "lineitem.l_orderkey.referential",
    )
    return audit.unionByName(ref)


SQL_DQ_EXPECTATIONS = """
WITH o AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total,
         CAST(COUNT(*) FILTER (WHERE NOT COALESCE(o_orderkey IS NOT NULL,
                                                  FALSE)) AS BIGINT) AS v_nn,
         CAST(COUNT(*) FILTER (WHERE NOT COALESCE(o_totalprice > 0,
                                                  FALSE)) AS BIGINT) AS v_pos,
         CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
              o_orderstatus IN ('F','O','P'), FALSE)) AS BIGINT) AS v_acc,
         CAST(COUNT(*) FILTER (WHERE NOT COALESCE(
              o_orderdate >= TIMESTAMP '1992-01-01'
              AND o_orderdate < TIMESTAMP '2031-01-01',
              FALSE)) AS BIGINT) AS v_rng,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v_unq
  FROM orders
),
l AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total,
         CAST(COUNT(*) FILTER (WHERE ok.o_orderkey IS NULL) AS BIGINT) AS v_ref
  FROM lineitem
  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) ok
    ON l_orderkey = ok.o_orderkey
)
SELECT rule, total, violations, violations = 0 AS passed FROM (
  SELECT 'orders.o_orderkey.not_null' AS rule, total, v_nn AS violations FROM o
  UNION ALL
  SELECT 'orders.o_totalprice.positive', total, v_pos FROM o
  UNION ALL
  SELECT 'orders.o_orderstatus.accepted', total, v_acc FROM o
  UNION ALL
  SELECT 'orders.o_orderdate.range', total, v_rng FROM o
  UNION ALL
  SELECT 'orders.o_orderkey.unique', total, v_unq FROM o
  UNION ALL
  SELECT 'lineitem.l_orderkey.referential', total, v_ref FROM l
)
"""

ANALYTICS_QUERIES["dq_expectations"] = (q_dq_expectations, SQL_DQ_EXPECTATIONS)


def q_orders_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DQ enforcement (operators/quality.py enforce_rules):
    tag each order with the rules it violates and emit the quarantine
    set — the load-time companion to dq_expectations (audit says
    WHETHER the load is clean; enforcement routes the rows that
    aren't, instead of failing a 100 TB job on one bad row).

    Scale notes: a pure narrow map (every rule is a scan-projection
    expression; the tag is concat_ws over conditional literals) plus
    the quarantine filter — no shuffle, no second pass.
    """
    from .operators.quality import enforce_rules

    orders = _t(spark, sf_dir, "orders")
    rules = [
        ("price.le_300k", F.col("o_totalprice") <= 300000),
        ("status.settled", F.col("o_orderstatus").isin("F", "O")),
        ("priority.specified", F.col("o_orderpriority") != "4-NOT SPECIFIED"),
    ]
    tagged = enforce_rules(orders, rules)
    return tagged.filter(F.col("failed_rules") != "").select(
        "o_orderkey", "failed_rules"
    )


SQL_ORDERS_QUARANTINE = """
SELECT o_orderkey,
       concat_ws(',',
         CASE WHEN COALESCE(o_totalprice <= 300000, FALSE)
              THEN NULL ELSE 'price.le_300k' END,
         CASE WHEN COALESCE(o_orderstatus IN ('F','O'), FALSE)
              THEN NULL ELSE 'status.settled' END,
         CASE WHEN COALESCE(o_orderpriority <> '4-NOT SPECIFIED', FALSE)
              THEN NULL ELSE 'priority.specified' END) AS failed_rules
FROM orders
WHERE NOT (COALESCE(o_totalprice <= 300000, FALSE)
       AND COALESCE(o_orderstatus IN ('F','O'), FALSE)
       AND COALESCE(o_orderpriority <> '4-NOT SPECIFIED', FALSE))
"""

ANALYTICS_QUERIES["orders_quarantine"] = (
    q_orders_quarantine,
    SQL_ORDERS_QUARANTINE,
)


def q_above_avg_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers whose account balance exceeds the
    global positive-balance average but who have never ordered —
    grouped per nation with counts and balance totals ("never
    ordered" is restricted to never placed an URGENT order, which
    keeps the result set non-trivial on this data where every
    customer has some order).  The missing classic pattern:
    scalar-subquery threshold + NOT EXISTS.

    Exactness: the average is never materialized as a double —
    ``balance > avg`` is evaluated as the cross-multiplied INTEGER
    comparison ``cents * n > sum_cents`` (cents via money_cents), so
    the boundary set is identical across engines and partitionings.

    Scale notes: the global (sum, count) is a one-row aggregate
    crossJoin'd back (broadcast — the no-collect scalar pattern); the
    never-ordered check is a left-anti join against the PRUNED
    distinct o_custkey column, broadcast by AQE when small; the final
    rollup is a nation-keyed hash aggregate with map-side combine.
    """
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", money_cents(F.col("c_acctbal")).alias("cents")
    )
    pos = cust.filter(F.col("cents") > 0)
    stats = pos.agg(
        F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    rich = pos.crossJoin(F.broadcast(stats)).filter(
        F.col("cents") * F.col("n") > F.col("s")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    idle = rich.join(
        orders, rich["c_custkey"] == orders["o_custkey"], "left_anti"
    )
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum("cents").alias("total_cents"),
    )


SQL_ABOVE_AVG_IDLE_CUSTOMERS = """
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
),
pos AS (SELECT * FROM c WHERE cents > 0),
st AS (SELECT SUM(cents) AS s, CAST(COUNT(*) AS BIGINT) AS n FROM pos),
rich AS (
  SELECT pos.* FROM pos, st WHERE pos.cents * st.n > st.s
)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM rich
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = rich.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""

ANALYTICS_QUERIES["above_avg_idle_customers"] = (
    q_above_avg_idle_customers,
    SQL_ABOVE_AVG_IDLE_CUSTOMERS,
)


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: directed
    part pairs with co-occurrence support >= 5 orders and confidence
    supp(a->b)/supp(a) >= 10%, with all three supports reported —
    the classic affinity workload (and the FP-growth 2-itemset core)
    on the same in-row basket expansion the co-purchase graph uses.

    Exactness: supports are integer counts; the confidence gate is the
    cross-multiplied integer comparison ``supp_ab * 100 >= supp_a *
    10`` — no ratio ever materializes, so the rule set is identical
    across engines.  Consumers derive confidence/lift from the
    reported integer supports.

    Scale notes: one shuffle of the (orderkey, partkey) projection
    (collect_set per order), in-row ordered-pair expansion (baskets
    are bounded ~7 lines), ONE hash aggregate per pair with map-side
    combine, then a broadcast join of the parts-sized single-item
    support table onto the pair table — no self-join of lineitem, no
    second corpus shuffle.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    pair_supp = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x -> "
                    "transform(ps, y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("supp_ab"))
        .filter(F.col("supp_ab") >= 5)
    )
    item_supp = baskets.select(
        F.explode("ps").alias("part")
    ).groupBy("part").agg(F.count(F.lit(1)).alias("supp"))
    sa = item_supp.select(F.col("part").alias("a"), F.col("supp").alias("supp_a"))
    sb = item_supp.select(F.col("part").alias("b"), F.col("supp").alias("supp_b"))
    return (
        pair_supp.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .filter(F.col("supp_ab") * 100 >= F.col("supp_a") * 10)
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            "supp_ab",
            "supp_a",
            "supp_b",
        )
    )


SQL_BASKET_RULES = """
WITH baskets AS (
  SELECT l_orderkey, list(DISTINCT l_partkey) AS ps FROM lineitem GROUP BY 1
),
pairs AS (
  SELECT a.a AS a, b.b AS b
  FROM baskets, unnest(ps) AS a(a), unnest(ps) AS b(b)
  WHERE a.a <> b.b
),
pair_supp AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS supp_ab
  FROM pairs GROUP BY a, b HAVING COUNT(*) >= 5
),
item_supp AS (
  SELECT i.i AS part, CAST(COUNT(*) AS BIGINT) AS supp
  FROM baskets, unnest(ps) AS i(i) GROUP BY 1
)
SELECT p.a AS antecedent, p.b AS consequent, p.supp_ab,
       sa.supp AS supp_a, sb.supp AS supp_b
FROM pair_supp p
JOIN item_supp sa ON sa.part = p.a
JOIN item_supp sb ON sb.part = p.b
WHERE p.supp_ab * 100 >= sa.supp * 10
"""

ANALYTICS_QUERIES["basket_rules"] = (q_basket_rules, SQL_BASKET_RULES)


def q_streaming_dq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DQ quarantine gate AS AN ACTUAL STREAM: order arrivals land
    as files in a watched directory, a file-source stream with
    maxFilesPerTrigger=1 + availableNow delivers them in MULTIPLE
    micro-batches, and foreachBatch applies enforce_rules to each —
    the load-time quality gate running at ingest rate instead of as a
    post-hoc batch audit.

    Because the rule tag is a pure per-row function, the union of
    per-batch quarantines equals the one-shot batch result — so this
    SHARES orders_quarantine's oracle, and the equality IS the
    batching-invariance statement (also pinned with >= 2 micro-batches
    in tests/test_engine_ops.py).

    Scale shape: quarantined rows are data-proportional, so each batch's
    quarantine is WRITTEN to a per-batch parquet sink
    (sink_foreach_batch) and the result is the sink read back — no rows
    ever accumulate on the driver (the returned plan is a FileScan of
    the sink, pinned in tests/test_engine_ops.py).
    """
    import os
    import tempfile

    from .operators.quality import enforce_rules
    from .streaming.incremental import (
        read_batch_sink,
        sink_foreach_batch,
        stream_file_source,
    )

    orders = _t(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="c360_stream_dq_")
    arrivals = os.path.join(tmp, "arrivals")
    # two "days" of arrivals -> two files -> two micro-batches
    orders.filter(F.col("o_orderkey") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(arrivals)
    orders.filter(F.col("o_orderkey") % 2 != 0).coalesce(1).write.mode(
        "append"
    ).parquet(arrivals)

    rules = [
        ("price.le_300k", F.col("o_totalprice") <= 300000),
        ("status.settled", F.col("o_orderstatus").isin("F", "O")),
        ("priority.specified", F.col("o_orderpriority") != "4-NOT SPECIFIED"),
    ]
    stream = stream_file_source(
        spark, arrivals, orders.schema, max_files_per_trigger=1
    )
    sink = os.path.join(tmp, "quarantine")

    def gate(batch_df: DataFrame) -> DataFrame:
        return (
            enforce_rules(batch_df, rules)
            .filter(F.col("failed_rules") != "")
            .select("o_orderkey", "failed_rules")
        )

    sink_foreach_batch(stream, os.path.join(tmp, "ckpt"), sink, gate)
    return read_batch_sink(spark, sink).select("o_orderkey", "failed_rules")


ANALYTICS_QUERIES["streaming_dq_gate"] = (
    q_streaming_dq_gate,
    SQL_ORDERS_QUARANTINE,
)


def q_sketch_rollup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the daily distinct-user pipeline at
    100 TB: per-day Datasketches HLL sketches of user_id
    (hll_sketch_agg), merged with hll_union_agg into the period
    estimate.  The whole point of sketches is that MERGING daily
    states replaces re-scanning the period, so yesterday's sketches
    never need recomputation; this query audits that path, emitting
    violation rows (empty when correct, the group_quantiles_approx
    restatement pattern): BOTH the merged-daily estimate and the
    full-scan estimate must sit within 5% of the exact distinct count
    (lgConfigK=12 gives ~1.6% standard error, so 5% is a hard gate).
    The two estimates are each deterministic but need not be equal —
    the union operator's internal register path differs from the
    single-pass sketch (observed: 1488 vs 1499 on 1500 exact at
    sf0.1, both well inside the gate).

    Scale notes: per-day sketches are one map-side-combined aggregate
    over the scan (state = KB per day); the merge aggregates
    days-count rows.  The exact count here exists only to audit the
    sketch and is the thing a 100 TB pipeline gets to STOP computing.
    """
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    full = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias(
            "full_est"
        )
    )
    exact = ev.agg(F.count_distinct("user_id").alias("exact"))
    joined = merged.crossJoin(full).crossJoin(exact)
    return joined.filter(
        (
            F.abs(F.col("merged_est") - F.col("exact")) * 100
            > F.col("exact") * 5
        )
        | (
            F.abs(F.col("full_est") - F.col("exact")) * 100
            > F.col("exact") * 5
        )
    ).select(
        F.lit("sketch_rollup_violation").alias("check"),
        F.col("merged_est").cast("long"),
        F.col("full_est").cast("long"),
        F.col("exact").cast("long"),
    )


SQL_SKETCH_ROLLUP_USERS = """
-- Violation-set restatement (see group_quantiles_approx): the Spark
-- side emits rows only if the merged-daily OR full-scan HLL estimate
-- misses the exact distinct count by > 5% (lgConfigK=12 ~ 1.6%
-- standard error). Neither must ever happen, so the oracle is EMPTY.
SELECT 'sketch_rollup_violation' AS check,
       CAST(NULL AS BIGINT) AS merged_est,
       CAST(NULL AS BIGINT) AS full_est,
       CAST(NULL AS BIGINT) AS exact
FROM events WHERE FALSE
"""

ANALYTICS_QUERIES["sketch_rollup_users"] = (
    q_sketch_rollup_users,
    SQL_SKETCH_ROLLUP_USERS,
)


def q_histogram_rollup_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HISTOGRAM-sketch quantile rollup (operators/aggregates
    histogram_sketch / histogram_quantiles) — the quantile sibling of
    sketch_rollup_users: order totals bin into per-day fixed-width
    integer histograms (<= 64 rows/day in CENTS), and monthly + overall
    p50/p90/p99 come from MERGING those sketches (bin-wise count sums)
    — the raw orders table is scanned exactly once, and yesterday's
    sketch rows never need recomputation when today's close.

    Unlike HLL blobs or percentile_approx state, the sketch is plain
    BIGINT rows, so the whole pipeline — binning, merge, the
    cross-multiplied ceil(q*total/100) bin selection — is replayed
    exactly by the oracle (no violation-set weakening).  Error is
    bounded by one bin width ($10,000 here) by construction; the
    emitted [bin_lo, bin_hi) brackets the true quantile.

    Scale: one map-side-combined aggregate over the scan; every later
    stage runs over O(scopes * nbins) sketch rows no matter how much
    raw data they summarize."""
    from .operators.aggregates import histogram_quantiles, histogram_sketch

    LO, HI, NB = 0, 64_000_000, 64  # cents; width = 1,000,000 exactly
    orders = _t(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
        money_cents("o_totalprice").alias("c"),
    )
    daily = histogram_sketch(orders, "c", ["day"], LO, HI, NB)
    # both period scopes come from MERGING the daily sketch rows —
    # the raw table is never re-read
    monthly = (
        daily.groupBy(F.substring("day", 1, 7).alias("scope"), "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    overall = (
        daily.groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
        .select(F.lit("ALL").alias("scope"), "bin", "cnt")
    )
    h = monthly.unionByName(overall)
    return histogram_quantiles(h, ["scope"], [50, 90, 99], LO, HI, NB)


SQL_HISTOGRAM_ROLLUP_QUANTILES = """
WITH b AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS scope,
         LEAST(63, GREATEST(0,
           CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
             // 1000000)) AS bin
  FROM orders
), sk AS (
  SELECT scope, bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2
  UNION ALL
  SELECT 'ALL', bin, CAST(COUNT(*) AS BIGINT) FROM b GROUP BY 2
), cum AS (
  SELECT scope, bin,
         CAST(SUM(cnt) OVER (PARTITION BY scope ORDER BY bin) AS BIGINT)
           AS cum_le,
         CAST(SUM(cnt) OVER (PARTITION BY scope) AS BIGINT) AS total
  FROM sk
), q(q_pct) AS (VALUES (50), (90), (99)),
hit AS (
  SELECT scope, q_pct, bin, cum_le, total,
         ROW_NUMBER() OVER (PARTITION BY scope, q_pct ORDER BY bin) AS rk
  FROM cum CROSS JOIN q
  WHERE cum_le * 100 >= q_pct * total
)
SELECT scope, CAST(q_pct AS INT) AS q_pct, bin,
       bin * 1000000 AS bin_lo, (bin + 1) * 1000000 AS bin_hi,
       cum_le, total
FROM hit WHERE rk = 1
"""

ANALYTICS_QUERIES["histogram_rollup_quantiles"] = (
    q_histogram_rollup_quantiles,
    SQL_HISTOGRAM_ROLLUP_QUANTILES,
)


# --- k-anonymity: audit + generalization ladder -----------------------------

_KANON_K = 5
_BAND_CENTS = 100000.0  # $1000 balance bands


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit (operators/quality.py k_anonymity_classes): the
    customer table's equivalence classes under the quasi-identifier
    (nation, market segment, $1000 balance band), with every class of
    size < 5 flagged re-identifiable.  One hash aggregate; the output
    is class-cardinality-bounded, not row-bounded."""
    from .operators.quality import k_anonymity_classes

    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(money_cents("c_acctbal") / F.lit(_BAND_CENTS))
        .cast("long")
        .alias("bal_band"),
    )
    return k_anonymity_classes(
        c, ["c_nationkey", "c_mktsegment", "bal_band"], k=_KANON_K
    )


SQL_K_ANONYMITY_AUDIT = f"""
WITH c AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)
                    / {_BAND_CENTS}) AS BIGINT) AS bal_band
  FROM customer
)
SELECT c_nationkey, c_mktsegment, bal_band,
       CAST(COUNT(*) AS BIGINT) AS class_size,
       COUNT(*) < {_KANON_K} AS at_risk
FROM c GROUP BY c_nationkey, c_mktsegment, bal_band
"""

ANALYTICS_QUERIES["k_anonymity_audit"] = (
    q_k_anonymity_audit,
    SQL_K_ANONYMITY_AUDIT,
)


def q_k_anonymity_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-record generalization ladder (operators/quality.py
    k_anonymity_generalize): each customer is published at the finest
    quasi-identifier level whose class reaches k=5 — level 0 =
    (nation, segment, $1000 band), level 1 drops the band, level 2
    drops the segment, level 3 = suppress.  One window count per rung;
    all-integer output."""
    from .operators.quality import k_anonymity_generalize

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(money_cents("c_acctbal") / F.lit(_BAND_CENTS))
        .cast("long")
        .alias("bal_band"),
    )
    levels = [
        [F.col("c_nationkey"), F.col("c_mktsegment"), F.col("bal_band")],
        [F.col("c_nationkey"), F.col("c_mktsegment")],
        [F.col("c_nationkey")],
    ]
    return k_anonymity_generalize(c, "c_custkey", levels, k=_KANON_K)


SQL_K_ANONYMITY_GENERALIZE = f"""
WITH c AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(FLOOR(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)
                    / {_BAND_CENTS}) AS BIGINT) AS bal_band
  FROM customer
), s AS (
  SELECT c_custkey,
         COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_band)
           AS s0,
         COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS s1,
         COUNT(*) OVER (PARTITION BY c_nationkey) AS s2
  FROM c
)
SELECT c_custkey,
       CAST(CASE WHEN s0 >= {_KANON_K} THEN 0
                 WHEN s1 >= {_KANON_K} THEN 1
                 WHEN s2 >= {_KANON_K} THEN 2
                 ELSE 3 END AS BIGINT) AS gen_level,
       CAST(CASE WHEN s0 >= {_KANON_K} THEN s0
                 WHEN s1 >= {_KANON_K} THEN s1
                 ELSE s2 END AS BIGINT) AS class_size
FROM s
"""

ANALYTICS_QUERIES["k_anonymity_generalize"] = (
    q_k_anonymity_generalize,
    SQL_K_ANONYMITY_GENERALIZE,
)


# --- triangle census of the repeated-co-purchase graph ----------------------

#: minimum number of DISTINCT orders two parts must share to form an edge —
#: sparsifies random single co-occurrence into an affinity graph whose edge
#: count stays roughly flat as the fact table grows (measured: 3.6k edges at
#: sf0.01, 3.9k at sf0.1 vs 116k/1.2M unthresholded).
_TRI_MIN_ORDERS = 2


def q_part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + local clustering coefficient over the repeated
    co-purchase graph (parts linked when they share >= 2 distinct
    orders) via degree-ordered orientation (operators/graph.py
    triangle_stats) — the community-density signal that separates
    genuine product families (cliquey neighborhoods, coefficient near
    1) from hub parts that merely co-occur with everything (high
    degree, near-0 coefficient).  Same census a dedup pipeline runs on
    its near-dup pair graph to decide whether clusters are cliques
    (true duplicates) or chains (topic drift).

    Scale notes: the pair expansion is ONE shuffle (collect_set per
    order, in-row ordered pairs — lines-per-order is bounded, same
    pattern as part_pagerank) and the >= 2-orders threshold keeps the
    edge set vertex-scaled rather than fact-scaled.  Orientation by
    (degree, id) rank caps wedge fan-out at O(sqrt(m)) per vertex, so
    the wedge join is O(m^{3/2}) worst-case; every count and the
    fixed-point coefficient are integers, so the oracle replays the
    identical ranking, orientation, and closure bit-for-bit.
    """
    from .operators.graph import triangle_stats

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    grouped = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    pairs = (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x -> "
                    "transform(filter(ps, y -> y > x), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    edges = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _TRI_MIN_ORDERS)
        .select("a", "b")
    )
    return triangle_stats(edges, "a", "b").select(
        F.col("id").alias("part_id"), "degree", "tri_count", "coeff_fp"
    )


SQL_PART_TRIANGLES = f"""
-- Replays triangle_stats exactly: distinct-order co-purchase pairs kept at
-- weight >= {_TRI_MIN_ORDERS}, vertices ranked by rk = degree * 2^31 + id,
-- edges oriented low-rank -> high-rank, each triangle counted once at its
-- lowest-ranked corner, coefficient in integer fixed point (scale 1e6).
WITH pairs AS (
  SELECT DISTINCT a.l_orderkey, a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
-- MATERIALIZED: und is tiny (vertex-scaled) but referenced 3x; without
-- the hint DuckDB re-inlines the full fact-sized pair pipeline per
-- reference and spills tens of GB at sf1 (observed) — same fix as
-- SQL_PART_PAGERANK.
und AS MATERIALIZED (
  SELECT u AS a, v AS b FROM pairs
  GROUP BY u, v HAVING COUNT(*) >= {_TRI_MIN_ORDERS}
),
deg AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und)
  GROUP BY id
),
k AS (SELECT id, degree, degree * 2147483648 + id AS rk FROM deg),
o AS (
  SELECT CASE WHEN ka.rk < kb.rk THEN und.a ELSE und.b END AS lo,
         CASE WHEN ka.rk < kb.rk THEN und.b ELSE und.a END AS hi,
         GREATEST(ka.rk, kb.rk) AS hirk
  FROM und JOIN k ka ON ka.id = und.a JOIN k kb ON kb.id = und.b
),
tri AS (
  SELECT o1.lo, o1.hi AS h1, o2.hi AS h2
  FROM o o1
  JOIN o o2 ON o2.lo = o1.lo AND o1.hirk < o2.hirk
  JOIN o o3 ON o3.lo = o1.hi AND o3.hi = o2.hi
),
tc AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS tri_count
  FROM (SELECT lo AS id FROM tri UNION ALL SELECT h1 FROM tri
        UNION ALL SELECT h2 FROM tri)
  GROUP BY id
)
SELECT k.id AS part_id, k.degree,
       CAST(COALESCE(tc.tri_count, 0) AS BIGINT) AS tri_count,
       CAST(CASE WHEN k.degree >= 2
                 THEN (2 * COALESCE(tc.tri_count, 0) * 1000000)
                      // (k.degree * (k.degree - 1))
                 ELSE 0 END AS BIGINT) AS coeff_fp
FROM k LEFT JOIN tc ON tc.id = k.id
"""

ANALYTICS_QUERIES["part_triangles"] = (q_part_triangles, SQL_PART_TRIANGLES)


# --- Pareto front (skyline) per part type ------------------------------------


def q_part_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query [Börzsönyi et al., ICDE 2001]: per part type, the
    price/size Pareto front — parts for which no same-type part is both
    cheaper-or-equal and larger-or-equal with at least one strict
    improvement (operators/windows.py pareto_front_2d).  The classic
    "best tradeoff" OLAP operator: everything off the front is strictly
    worse for every buyer who wants cheap AND large.

    Scale notes: one hash shuffle on p_type + a per-group sort serving
    BOTH window passes (single Exchange+Sort in the plan); price is
    exact integer cents so the dominance test and the survivor set are
    engine-portable.  The oracle deliberately uses the quadratic
    NOT-EXISTS formulation — an independent statement of dominance, not
    a replay of the window algebra.
    """
    from .operators.windows import pareto_front_2d

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_type",
        money_cents(F.col("p_retailprice")).alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    return pareto_front_2d(
        p, minimize="price_cents", maximize="size", group=["p_type"]
    ).select(
        F.col("p_partkey").alias("part_id"), "p_type", "price_cents", "size"
    )


SQL_PART_PARETO_FRONT = """
WITH p AS (
  SELECT p_partkey, p_type,
         CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_cents,
         CAST(p_size AS BIGINT) AS size
  FROM part
)
SELECT p.p_partkey AS part_id, p.p_type, p.price_cents, p.size
FROM p
WHERE NOT EXISTS (
  SELECT 1 FROM p q
  WHERE q.p_type = p.p_type
    AND q.price_cents <= p.price_cents AND q.size >= p.size
    AND (q.price_cents < p.price_cents OR q.size > p.size)
)
"""

ANALYTICS_QUERIES["part_pareto_front"] = (
    q_part_pareto_front,
    SQL_PART_PARETO_FRONT,
)


# --- Benford first-digit audit ------------------------------------------------


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen over order totals (operators/quality.py
    benford_profile): per leading digit of o_totalprice (integer
    cents), observed count vs the Benford expectation in integer
    parts-per-billion, plus the absolute deviation — the fraud /
    unit-mixing detector a financial DQ gate runs on every load.
    (TPC-H uniform prices are NOT Benford-distributed — the audit's
    point is the deviation column, and large deviations here are the
    honest answer.)

    Scale notes: one scan + one <= 9-group hash aggregate (map-side
    combine: 9 rows leave each task); the expectation constants are
    precomputed integer literals shared verbatim with the oracle, so no
    log10 crosses an engine boundary and the result is exact.
    """
    from .operators.quality import benford_profile

    o = _t(spark, sf_dir, "orders")
    return benford_profile(o, money_cents(F.col("o_totalprice")))


def _sql_benford() -> str:
    from .operators.quality import BENFORD_PPB

    case = " ".join(
        f"WHEN {d} THEN {ppb}" for d, ppb in BENFORD_PPB.items()
    )
    return f"""
WITH c AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
  WHERE CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) >= 100
),
counts AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM c GROUP BY 1
),
filled AS (
  SELECT d.digit, COALESCE(counts.n, 0) AS n
  FROM (VALUES (CAST(1 AS BIGINT)), (2), (3), (4), (5), (6), (7), (8), (9))
       AS d(digit)
  LEFT JOIN counts ON counts.digit = d.digit
),
tot AS (SELECT SUM(n) AS total FROM filled)
SELECT digit, n,
       CAST((n * 1000000000) // total AS BIGINT) AS obs_ppb,
       CAST(CASE digit {case} END AS BIGINT) AS exp_ppb,
       CAST(ABS((n * 1000000000) // total
                - CASE digit {case} END) AS BIGINT) AS dev_ppb
FROM filled, tot
"""


ANALYTICS_QUERIES["benford_audit"] = (q_benford_audit, _sql_benford())


# --- CUSUM changepoint monitor over daily revenue ----------------------------


def q_revenue_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift monitor [Page 1954] over daily order
    revenue: per day, the clamped cumulative excess above / deficit
    below the period's mean daily revenue — the standard sequential
    changepoint screen a pipeline runs on every ingested fact stream
    (sustained small shifts accumulate where a per-day threshold stays
    silent).

    The recursion ``S_t = max(0, S_{t-1} + dev_t)`` is NOT a window
    aggregate, but the clamped walk has a closed form
    ``S_t = P_t - min(0, min_{j<=t} P_j)`` (P = running sum of
    deviations), so the whole monitor is pure window algebra: one
    day-grained aggregate (map-side combined) + running sum + running
    min over the day series.  All integer cents -> engine-exact; the
    oracle deliberately replays the RECURSIVE definition instead, so
    the closed form is checked against the textbook recurrence, not
    against itself.

    Scale notes: the heavy input scan collapses to one row per day
    before any window runs; the ordered windows run on the day series
    (bounded by calendar span, thousands of rows at any corpus size),
    which is the one deliberate single-partition step — documented
    here, irrelevant at that cardinality.
    """
    o = _t(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        money_cents(F.col("o_totalprice")).alias("cents"),
    )
    daily = o.groupBy("day").agg(F.sum("cents").cast("long").alias("rev"))
    ref = daily.agg(F.expr("sum(rev) div count(1)").alias("ref"))
    j = (
        daily.crossJoin(F.broadcast(ref))
        .withColumn("dev", (F.col("rev") - F.col("ref")).cast("long"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    j = (
        j.withColumn("__p", F.sum("dev").over(w))
        .withColumn("__q", F.sum(-F.col("dev")).over(w))
    )
    return (
        j.withColumn("__mp", F.min("__p").over(w))
        .withColumn("__mq", F.min("__q").over(w))
        .select(
            "day",
            "rev",
            "dev",
            (F.col("__p") - F.least(F.lit(0).cast("long"), F.col("__mp")))
            .cast("long").alias("cusum_up"),
            (F.col("__q") - F.least(F.lit(0).cast("long"), F.col("__mq")))
            .cast("long").alias("cusum_dn"),
        )
    )


SQL_REVENUE_CUSUM = """
-- Replays the TEXTBOOK recurrence S_t = max(0, S_{t-1} + dev_t) via a
-- recursive CTE — an independent formulation of the closed form
-- (P_t - min(0, running_min P)) the engine computes with windows.
WITH RECURSIVE daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY 1
),
r AS (SELECT CAST(SUM(rev) // COUNT(*) AS BIGINT) AS ref FROM daily),
o AS (
  SELECT day, rev, rev - (SELECT ref FROM r) AS dev,
         ROW_NUMBER() OVER (ORDER BY day) AS i
  FROM daily
),
c AS (
  SELECT i, day, rev, dev,
         GREATEST(CAST(0 AS BIGINT), dev) AS up,
         GREATEST(CAST(0 AS BIGINT), -dev) AS dn
  FROM o WHERE i = 1
  UNION ALL
  SELECT o.i, o.day, o.rev, o.dev,
         GREATEST(CAST(0 AS BIGINT), c.up + o.dev),
         GREATEST(CAST(0 AS BIGINT), c.dn - o.dev)
  FROM c JOIN o ON o.i = c.i + 1
)
SELECT day, rev, CAST(dev AS BIGINT) AS dev,
       CAST(up AS BIGINT) AS cusum_up, CAST(dn AS BIGINT) AS cusum_dn
FROM c
"""

ANALYTICS_QUERIES["revenue_cusum"] = (q_revenue_cusum, SQL_REVENUE_CUSUM)


# --- Gini concentration of customer revenue per nation ------------------------


def q_nation_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration audit: per nation, the Gini coefficient of
    customer revenue in integer fixed point — the inequality screen
    that tells a Customer-360 team whether a nation's revenue is broad
    or hangs off three whales (and a corpus team, when run on per-source
    token counts, whether one domain dominates a mixture).

    Uses the sorted-rank identity ``G = (2*SUM(i*x_i) - (n+1)*SUM(x))
    / (n*SUM(x))`` over revenue sorted ascending within nation
    (tiebreak: custkey), emitted as ``gini_fp`` scaled 10^6.  Revenue
    is truncated to whole currency units before ranking so every
    product ``i * x_i`` and its national sum stay well inside int64 at
    realistic cardinalities (~10^6 customers x 10^5 units per nation ->
    ~10^17; the decimal(38,0) aggregate is the documented escape
    beyond that).  The 10^6 scaling is applied by STAGED base-1000
    long division — ``floor(N*10^6/D)`` as three div/mod steps each
    multiplying a ``< D`` remainder by only 10^3 — because the naive
    ``(N * 10^6) div D`` form overflowed int64 at the sf1 sweep
    (N ~ 1.9e13 per nation there; every staged intermediate is
    ``< 1000*D``, safe while ``D < 2^63/1000`` ~ 9.2e15 national
    revenue units — ~10^5x the sf1 maximum; past that, stage by base
    10 (six div/mod steps, intermediates < 10*D) or switch the
    aggregate to decimal(38,0); N >= 0
    always, since revenue is sorted ascending, so div == floor in
    both engines).  Customers with no orders count as x = 0 — a
    concentration audit that silently dropped them would understate
    inequality.

    Scale shape: one fact-side hash aggregate to customer grain, a
    broadcast-friendly left join onto the customer dim, then ONE
    window shuffle partitioned by nation (nations are the parallelism
    unit) and a final per-nation hash aggregate.  All integers ->
    engine-exact.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", money_cents(F.col("o_totalprice")).alias("cents")
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.expr("sum(cents) div 100").alias("units")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    x = (
        c.join(per_cust, c["c_custkey"] == per_cust["o_custkey"], "left")
        .select(
            "c_nationkey",
            "c_custkey",
            F.coalesce("units", F.lit(0)).cast("long").alias("units"),
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy("units", "c_custkey")
    ranked = x.withColumn("i", F.row_number().over(w).cast("long"))
    return (
        ranked.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("units").alias("total_units"),
            F.sum(F.col("i") * F.col("units")).alias("__six"),
        )
        .withColumn(
            "__N", F.expr("2 * __six - (n_customers + 1) * total_units")
        )
        .withColumn("__D", F.expr("n_customers * total_units"))
        .select(
            "c_nationkey",
            "n_customers",
            "total_units",
            F.when(
                F.col("total_units") > 0,
                F.expr(
                    "(__N div __D) * 1000000"
                    " + (((__N % __D) * 1000) div __D) * 1000"
                    " + ((((__N % __D) * 1000) % __D) * 1000) div __D"
                ),
            )
            .otherwise(F.lit(0)).cast("long").alias("gini_fp"),
        )
    )


SQL_NATION_REVENUE_GINI = """
WITH per_cust AS (
  SELECT o_custkey,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) // 100 AS units
  FROM orders GROUP BY 1
),
x AS (
  SELECT c.c_nationkey, c.c_custkey,
         CAST(COALESCE(p.units, 0) AS BIGINT) AS units
  FROM customer c LEFT JOIN per_cust p ON p.o_custkey = c.c_custkey
),
ranked AS (
  SELECT c_nationkey, units,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY c_nationkey ORDER BY units, c_custkey
         ) AS BIGINT) AS i
  FROM x
),
agg AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(units) AS BIGINT) AS total_units,
         CAST(SUM(i * units) AS BIGINT) AS six
  FROM ranked GROUP BY 1
),
nd AS (
  SELECT c_nationkey, n_customers, total_units,
         CAST(2 * six - (n_customers + 1) * total_units AS BIGINT) AS n_,
         CAST(n_customers * total_units AS BIGINT) AS d_
  FROM agg
)
SELECT c_nationkey, n_customers, total_units,
       CAST(CASE WHEN total_units > 0
                 THEN (n_ // d_) * 1000000
                      + (((n_ % d_) * 1000) // d_) * 1000
                      + ((((n_ % d_) * 1000) % d_) * 1000) // d_
                 ELSE 0 END AS BIGINT) AS gini_fp
FROM nd
"""

ANALYTICS_QUERIES["nation_revenue_gini"] = (
    q_nation_revenue_gini,
    SQL_NATION_REVENUE_GINI,
)


# --- supplier-nation x customer-nation trade matrix (TPC-H Q7 shape) ----------


def q_nation_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the bilateral trade matrix — revenue by
    (supplier nation, customer nation) across lineitem ⋈ orders ⋈
    customer ⋈ supplier with the nation dim joined TWICE under two
    aliases.  The classic dual-dimension fact join: the fact row's two
    foreign keys resolve through different dimension paths into one
    grouped matrix.

    Scale notes: customer, supplier, and both nation aliases are
    dim-sized and explicitly broadcast; the lineitem-orders fact-fact
    join is the one shuffle at production scale (at demo SFs AQE
    broadcasts the pruned orders side too — observed: all five joins
    BroadcastHashJoin at sf0.1, zero shuffle joins); revenue is integer
    cents before SUM so the matrix is engine-exact, and the final
    aggregate's key space is |nations|^2 — map-side combined to almost
    nothing.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", _revenue_cents().alias("rev")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp_n = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust_n = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(supp_n), s["s_nationkey"] == F.col("sn_key"))
        .join(F.broadcast(cust_n), c["c_nationkey"] == F.col("cn_key"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.sum("rev").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


SQL_NATION_TRADE_MATRIX = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100, 0)
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
GROUP BY 1, 2
"""

ANALYTICS_QUERIES["nation_trade_matrix"] = (
    q_nation_trade_matrix,
    SQL_NATION_TRADE_MATRIX,
)


# --- per-nation monthly revenue trend (exact OLS slope) -----------------------


def q_nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend: the ordinary-least-squares slope of
    monthly revenue over the month index, kept EXACT by emitting the
    slope as an integer rational — ``slope_num = n*Sxy - Sx*Sy``,
    ``slope_den = n*Sxx - Sx^2`` (slope in units/month = num/den) —
    because the slope is frequently NEGATIVE and integer division
    semantics differ across engines for negatives (Spark ``div``
    truncates toward zero, SQL ``//`` floors), while the rational is
    unambiguous.  The direction flag uses the numerator's sign only.

    Scale shape: fact scan -> (nation, month) hash aggregate (map-side
    combined) -> per-nation second aggregate over <= calendar-months
    rows.  Month index = year*12 + month (integer); all sums are
    int64-safe at realistic spans (x <= ~25k months forever; monthly
    revenue in whole units).  Nations with one month emit den = 0 —
    undefined slope, surfaced rather than divided.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long").alias("mi"),
        money_cents(F.col("o_totalprice")).alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    monthly = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "mi")
        .agg(F.expr("sum(cents) div 100").alias("y"))
    )
    return (
        monthly.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_months"),
            F.sum("mi").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("mi") * F.col("y")).alias("sxy"),
            F.sum(F.col("mi") * F.col("mi")).alias("sxx"),
        )
        .select(
            "c_nationkey",
            "n_months",
            (F.col("n_months") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("long").alias("slope_num"),
            (F.col("n_months") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("long").alias("slope_den"),
        )
        .withColumn(
            "direction",
            F.when(F.col("slope_num") > 0, "up")
            .when(F.col("slope_num") < 0, "down")
            .otherwise("flat"),
        )
    )


SQL_NATION_REVENUE_TREND = """
WITH monthly AS (
  SELECT c.c_nationkey,
         CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
           AS mi,
         SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) // 100 AS y
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
agg AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_months,
         CAST(SUM(mi) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(mi * y) AS BIGINT) AS sxy,
         CAST(SUM(mi * mi) AS BIGINT) AS sxx
  FROM monthly GROUP BY 1
)
SELECT c_nationkey, n_months,
       CAST(n_months * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n_months * sxx - sx * sx AS BIGINT) AS slope_den,
       CASE WHEN n_months * sxy - sx * sy > 0 THEN 'up'
            WHEN n_months * sxy - sx * sy < 0 THEN 'down'
            ELSE 'flat' END AS direction
FROM agg
"""

ANALYTICS_QUERIES["nation_revenue_trend"] = (
    q_nation_revenue_trend,
    SQL_NATION_REVENUE_TREND,
)


# --- RFM customer segmentation ------------------------------------------------


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — THE canonical Customer-360 feature: per
    customer, Recency (days since last order, vs the dataset's max
    order date), Frequency (order count), Monetary (lifetime cents),
    each quintile-scored 1-5 (5 best: most recent / most orders / most
    spend), plus the composite ``rfm_code`` (r*100+f*10+m).  Scores are
    EXACT percentile quintiles — ``5 - ((rank-1)*5) div n`` over a
    total order with custkey tiebreaks — not approximate ntiles, so the
    segmentation is deterministic and engine-portable.

    Scale shape: the fact table collapses to customer grain in ONE
    map-side-combined aggregate; the reference date is a 1-row
    broadcast; the three quintile ranks are global sorts of the
    CUSTOMER-grain frame (dim-sized — fine to the hundreds of millions;
    beyond that the banded distributed-rank scheme replaces the single
    sort, same integer formula).  Only customers with >= 1 order
    appear (recency is undefined otherwise).
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        money_cents(F.col("o_totalprice")).alias("cents"),
    )
    per = o.groupBy("o_custkey").agg(
        F.max("d").alias("last_d"),
        F.count(F.lit(1)).alias("f_orders"),
        F.sum("cents").cast("long").alias("m_cents"),
    )
    refd = per.agg(F.max("last_d").alias("ref_d"))
    j = per.crossJoin(F.broadcast(refd)).withColumn(
        "r_days", F.datediff(F.col("ref_d"), F.col("last_d")).cast("long")
    )
    w_all = Window.partitionBy(F.lit(1))
    w_r = Window.orderBy("r_days", "o_custkey")
    w_f = Window.orderBy(F.col("f_orders").desc(), "o_custkey")
    w_m = Window.orderBy(F.col("m_cents").desc(), "o_custkey")

    def _score(rank_col):
        return (
            F.lit(5).cast("long")
            - F.expr(f"(({rank_col} - 1) * 5) div __n")
        )

    return (
        j.withColumn("__n", F.count(F.lit(1)).over(w_all))
        .withColumn("__rr", F.row_number().over(w_r).cast("long"))
        .withColumn("__rf", F.row_number().over(w_f).cast("long"))
        .withColumn("__rm", F.row_number().over(w_m).cast("long"))
        .select(
            F.col("o_custkey").alias("custkey"),
            "r_days",
            "f_orders",
            "m_cents",
            _score("__rr").alias("r_score"),
            _score("__rf").alias("f_score"),
            _score("__rm").alias("m_score"),
            (
                _score("__rr") * 100 + _score("__rf") * 10 + _score("__rm")
            ).alias("rfm_code"),
        )
    )


SQL_CUSTOMER_RFM = """
WITH per AS (
  SELECT o_custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_d,
         CAST(COUNT(*) AS BIGINT) AS f_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS m_cents
  FROM orders GROUP BY 1
),
refd AS (SELECT MAX(last_d) AS ref_d FROM per),
j AS (
  SELECT per.*, CAST(date_diff('day', last_d, refd.ref_d) AS BIGINT)
           AS r_days
  FROM per CROSS JOIN refd
),
ranked AS (
  SELECT j.*, CAST(COUNT(*) OVER () AS BIGINT) AS n,
         CAST(ROW_NUMBER() OVER (ORDER BY r_days, o_custkey) AS BIGINT)
           AS rr,
         CAST(ROW_NUMBER() OVER (ORDER BY f_orders DESC, o_custkey)
              AS BIGINT) AS rf,
         CAST(ROW_NUMBER() OVER (ORDER BY m_cents DESC, o_custkey)
              AS BIGINT) AS rm
  FROM j
)
SELECT o_custkey AS custkey, r_days, f_orders, m_cents,
       CAST(5 - ((rr - 1) * 5) // n AS BIGINT) AS r_score,
       CAST(5 - ((rf - 1) * 5) // n AS BIGINT) AS f_score,
       CAST(5 - ((rm - 1) * 5) // n AS BIGINT) AS m_score,
       CAST((5 - ((rr - 1) * 5) // n) * 100
            + (5 - ((rf - 1) * 5) // n) * 10
            + (5 - ((rm - 1) * 5) // n) AS BIGINT) AS rfm_code
FROM ranked
"""

ANALYTICS_QUERIES["customer_rfm"] = (q_customer_rfm, SQL_CUSTOMER_RFM)


# --- 80/20 revenue concentration per nation -----------------------------------


def q_revenue_pareto80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 question, answered exactly: per nation, the MINIMUM
    number of customers whose (descending) revenue covers >= 80% of the
    nation's total — the whale-count complement to nation_revenue_gini
    (the Gini says HOW unequal; this says how few accounts the revenue
    actually hangs off).  The 80% test is the cross-multiplied integer
    comparison ``cum_cents * 5 >= total_cents * 4`` — no percentage
    float ever exists.

    Scale shape: one fact aggregate to (nation, customer) grain, ONE
    nation-partitioned window (rank + running sum share the same sort),
    and a per-nation min-over-qualifying aggregate.  Customers with no
    orders contribute nothing to either side and are excluded.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", money_cents(F.col("o_totalprice")).alias("cents")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    per = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "c_custkey")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("rev").desc(), "c_custkey"
    )
    ranked = (
        per.withColumn("rk", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum",
            F.sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn(
            "tot", F.sum("rev").over(Window.partitionBy("c_nationkey"))
        )
    )
    return (
        ranked.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rev").alias("total_cents"),
            F.min(
                F.when(
                    F.col("cum") * 5 >= F.col("tot") * 4, F.col("rk")
                )
            ).alias("k80"),
        )
        .select(
            "c_nationkey",
            "n_customers",
            "total_cents",
            F.col("k80").cast("long").alias("k80"),
            F.expr("(k80 * 1000000L) div n_customers").alias("k80_share_fp"),
        )
    )


SQL_REVENUE_PARETO80 = """
WITH per AS (
  SELECT c.c_nationkey, c.c_custkey,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT c_nationkey, rev,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY c_nationkey ORDER BY rev DESC, c_custkey
         ) AS BIGINT) AS rk,
         CAST(SUM(rev) OVER (
           PARTITION BY c_nationkey ORDER BY rev DESC, c_custkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum,
         CAST(SUM(rev) OVER (PARTITION BY c_nationkey) AS BIGINT) AS tot
  FROM per
)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(rev) AS BIGINT) AS total_cents,
       CAST(MIN(CASE WHEN cum * 5 >= tot * 4 THEN rk END) AS BIGINT) AS k80,
       CAST((MIN(CASE WHEN cum * 5 >= tot * 4 THEN rk END) * 1000000)
            // COUNT(*) AS BIGINT) AS k80_share_fp
FROM ranked
GROUP BY 1
"""

ANALYTICS_QUERIES["revenue_pareto80"] = (
    q_revenue_pareto80,
    SQL_REVENUE_PARETO80,
)


# --- Order-total financial reconciliation -------------------------------------


def q_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial reconciliation audit: recompute every order's total
    from its lineitems in EXACT integer micro-dollars and bucket the
    discrepancy against the stored ``o_totalprice`` — the close-of-books
    control every warehouse runs nightly (stored header totals drift
    from line-level truth through partial refunds, late adjustments,
    and upstream bugs; this report is how you notice).

    Integer plan: ``line_e6 = cents(extendedprice) * (100 -
    round(discount*100)) * (100 + round(tax*100))`` is the line charge
    in 1e-6 dollars — three exact int64 products (a 100k$ line is
    ~1e11, a 100-line order ~1e13, comfortably inside int64).  The
    stored header total is lifted to the same unit
    (``cents * 10_000``).  Relative-tolerance buckets use
    cross-multiplied integer comparisons (``|delta| * 100 <=
    stored_e6`` is "within 1%"), so no ratio ever materializes and the
    report is identical across engines.  Orders with no surviving
    lineitems are their own bucket — silently dropping them is how
    reconciliation reports lie.

    Scale shape: ONE fact-side hash aggregate to order grain
    (map-side combine), one orderkey equi-join against the header
    table (co-partitioned by key at production scale; AQE broadcasts
    at demo SFs), then a tiny (status x bucket) hash aggregate.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (
            money_cents("l_extendedprice")
            * (F.lit(100) - F.round(F.col("l_discount") * 100, 0).cast("long"))
            * (F.lit(100) + F.round(F.col("l_tax") * 100, 0).cast("long"))
        ).alias("line_e6"),
    )
    rc = li.groupBy("l_orderkey").agg(F.sum("line_e6").alias("rc_e6"))
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        (money_cents("o_totalprice") * F.lit(10_000)).alias("stored_e6"),
    )
    j = o.join(rc, o["o_orderkey"] == rc["l_orderkey"], "left")
    delta = F.col("rc_e6") - F.col("stored_e6")
    absd = F.abs(delta)
    bucket = (
        F.when(F.col("rc_e6").isNull(), F.lit("NO_LINEITEMS"))
        .when(delta == 0, F.lit("EXACT"))
        .when(absd * 100 <= F.col("stored_e6"), F.lit("WITHIN_1PCT"))
        .when(absd * 10 <= F.col("stored_e6"), F.lit("WITHIN_10PCT"))
        .otherwise(F.lit("OVER_10PCT"))
    )
    return (
        j.select(
            "o_orderstatus",
            bucket.alias("bucket"),
            F.coalesce(absd, F.lit(0)).alias("abs_delta_e6"),
        )
        .groupBy("o_orderstatus", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("abs_delta_e6").alias("sum_abs_delta_e6"),
            F.max("abs_delta_e6").alias("max_abs_delta_e6"),
        )
    )


SQL_ORDER_RECONCILIATION = """
WITH rc AS (
  SELECT l_orderkey,
         SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
             * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))
             * (100 + CAST(ROUND(l_tax * 100, 0) AS BIGINT))) AS rc_e6
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT o.o_orderstatus,
         CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) * 10000 AS stored_e6,
         rc.rc_e6
  FROM orders o LEFT JOIN rc ON rc.l_orderkey = o.o_orderkey
),
b AS (
  SELECT o_orderstatus,
         CASE
           WHEN rc_e6 IS NULL THEN 'NO_LINEITEMS'
           WHEN rc_e6 - stored_e6 = 0 THEN 'EXACT'
           WHEN ABS(rc_e6 - stored_e6) * 100 <= stored_e6 THEN 'WITHIN_1PCT'
           WHEN ABS(rc_e6 - stored_e6) * 10 <= stored_e6 THEN 'WITHIN_10PCT'
           ELSE 'OVER_10PCT'
         END AS bucket,
         COALESCE(ABS(rc_e6 - stored_e6), 0) AS abs_delta_e6
  FROM j
)
SELECT o_orderstatus, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(abs_delta_e6) AS BIGINT) AS sum_abs_delta_e6,
       CAST(MAX(abs_delta_e6) AS BIGINT) AS max_abs_delta_e6
FROM b GROUP BY 1, 2
"""

ANALYTICS_QUERIES["order_reconciliation"] = (
    q_order_reconciliation,
    SQL_ORDER_RECONCILIATION,
)


# --- Item-item co-purchase recommendations ------------------------------------


def q_part_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering, serving shape: for every
    part, the top-3 "customers also bought" parts ranked by
    co-purchase support — the ranked per-item list a recommender
    actually serves, one step past ``basket_rules``'s thresholded rule
    set (rules are symmetric facts; a recommendation is a per-item
    ORDERED shortlist with a deterministic tiebreak).

    Ranking is by raw integer co-occurrence (orders containing both)
    with partkey as the total-order tiebreak; the cosine affinity
    ``supp_ab^2 / (supp_a * supp_b)`` is emitted as an EXACT integer
    rational (``cos2_num``/``cos2_den``) rather than folded into the
    rank — a scaled-fixed-point cosine rank would need
    ``supp_ab^2 * 10^k`` products that leave int64 at popular-pair
    supports (~3e6 orders sharing a pair at 100 TB), while the raw
    rational stays exact to supp ~ 3e9.  Consumers re-rank by the
    rational with arbitrary precision if they want affinity order.

    Scale shape: identical candidate machinery to the co-purchase
    graph — one shuffle to basket grain, in-row ordered-pair expansion
    (baskets bounded ~7 lines), ONE pair hash aggregate with map-side
    combine, a broadcast join of the parts-sized support table, then
    ONE window shuffle partitioned by the recommending part.  A
    ``supp_ab >= 2`` floor drops the single-co-occurrence noise tail
    before the window (same floor in the oracle).
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    pair_supp = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x -> "
                    "transform(ps, y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("supp_ab"))
        .filter(F.col("supp_ab") >= 2)
    )
    item_supp = baskets.select(F.explode("ps").alias("part")).groupBy(
        "part"
    ).agg(F.count(F.lit(1)).alias("supp"))
    sa = item_supp.select(F.col("part").alias("a"), F.col("supp").alias("supp_a"))
    sb = item_supp.select(F.col("part").alias("b"), F.col("supp").alias("supp_b"))
    w = Window.partitionBy("a").orderBy(F.col("supp_ab").desc(), F.col("b"))
    return (
        pair_supp.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("a").alias("part"),
            F.col("b").alias("rec_part"),
            F.col("rank").cast("int").alias("rank"),
            "supp_ab",
            (F.col("supp_ab") * F.col("supp_ab")).alias("cos2_num"),
            (F.col("supp_a") * F.col("supp_b")).alias("cos2_den"),
        )
    )


SQL_PART_RECOMMENDATIONS = """
WITH bp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pair AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b,
         CAST(COUNT(*) AS BIGINT) AS supp_ab
  FROM bp a JOIN bp b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
item AS (
  SELECT l_partkey AS part, CAST(COUNT(*) AS BIGINT) AS supp
  FROM bp GROUP BY 1
),
ranked AS (
  SELECT p.a, p.b, p.supp_ab, ia.supp AS supp_a, ib.supp AS supp_b,
         ROW_NUMBER() OVER (
           PARTITION BY p.a ORDER BY p.supp_ab DESC, p.b
         ) AS rank
  FROM pair p
  JOIN item ia ON ia.part = p.a
  JOIN item ib ON ib.part = p.b
)
SELECT a AS part, b AS rec_part, CAST(rank AS INTEGER) AS rank, supp_ab,
       supp_ab * supp_ab AS cos2_num,
       supp_a * supp_b AS cos2_den
FROM ranked WHERE rank <= 3
"""

ANALYTICS_QUERIES["part_recommendations"] = (
    q_part_recommendations,
    SQL_PART_RECOMMENDATIONS,
)


# --- Naive vs seasonal-naive revenue backtest ---------------------------------


def q_revenue_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline backtest: per nation, score the two standard
    no-model forecasters of monthly revenue — naive (previous month)
    and seasonal-naive (same month last year) — and report which one a
    dashboard should use.  Champion/challenger backtesting over
    history is the step that keeps "forecast" tiles honest; the two
    baselines here are also the yardstick any real model must beat.

    Forecast joins are CALENDAR joins, not LAG over observed rows: the
    naive forecast for month m is the revenue row keyed exactly
    (m-1 month), the seasonal one exactly (m-12), matched with an
    equi-join on the computed prior key — a month absent from history
    simply scores no forecast (a LAG would silently reach across
    gaps).  Errors are integer cents; MAE is an integer ``div`` of
    nonnegative totals (truncate == floor on both engines), and the
    champion pick compares ``sum12 * n1 < sum1 * n12`` cross-multiplied
    so no ratio ever materializes.  Ties (and nations too short for a
    seasonal score) default to 'naive'.

    Scale shape: one fact-side aggregate to (nation, month) grain —
    after which the series table is ~nations x months rows; the two
    self-joins and the final per-nation aggregate are dimension-sized.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        money_cents("o_totalprice").alias("cents"),
        (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1)).alias("mi"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "mi")
        .agg(F.sum("cents").alias("rev"))
    )
    r1 = rev.select(
        F.col("c_nationkey").alias("n1"),
        (F.col("mi") + 1).alias("mi1"),
        F.col("rev").alias("f_naive"),
    )
    r12 = rev.select(
        F.col("c_nationkey").alias("n12"),
        (F.col("mi") + 12).alias("mi12"),
        F.col("rev").alias("f_seasonal"),
    )
    scored = (
        rev.join(
            r1, (rev["c_nationkey"] == r1["n1"]) & (rev["mi"] == r1["mi1"]), "left"
        )
        .join(
            r12,
            (rev["c_nationkey"] == r12["n12"]) & (rev["mi"] == r12["mi12"]),
            "left",
        )
        .select(
            "c_nationkey",
            F.abs(F.col("rev") - F.col("f_naive")).alias("e1"),
            F.abs(F.col("rev") - F.col("f_seasonal")).alias("e12"),
        )
    )
    agg = scored.groupBy("c_nationkey").agg(
        F.count("e1").alias("n1_scored"),
        F.coalesce(F.sum("e1"), F.lit(0)).alias("sum1"),
        F.count("e12").alias("n12_scored"),
        F.coalesce(F.sum("e12"), F.lit(0)).alias("sum12"),
    )
    return agg.select(
        "c_nationkey",
        "n1_scored",
        F.when(F.col("n1_scored") > 0,
               F.expr("sum1 div n1_scored")).otherwise(F.lit(None))
        .cast("long").alias("mae_naive_cents"),
        "n12_scored",
        F.when(F.col("n12_scored") > 0,
               F.expr("sum12 div n12_scored")).otherwise(F.lit(None))
        .cast("long").alias("mae_seasonal_cents"),
        F.when(
            (F.col("n12_scored") > 0)
            & (F.col("n1_scored") > 0)
            & (F.col("sum12") * F.col("n1_scored")
               < F.col("sum1") * F.col("n12_scored")),
            F.lit("seasonal"),
        ).otherwise(F.lit("naive")).alias("champion"),
    )


SQL_REVENUE_BACKTEST = """
WITH rev AS (
  SELECT c.c_nationkey,
         CAST(YEAR(o.o_orderdate) * 12 + (MONTH(o.o_orderdate) - 1) AS BIGINT)
           AS mi,
         SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
scored AS (
  SELECT r.c_nationkey,
         ABS(r.rev - p1.rev) AS e1,
         ABS(r.rev - p12.rev) AS e12
  FROM rev r
  LEFT JOIN rev p1
    ON p1.c_nationkey = r.c_nationkey AND p1.mi = r.mi - 1
  LEFT JOIN rev p12
    ON p12.c_nationkey = r.c_nationkey AND p12.mi = r.mi - 12
),
agg AS (
  SELECT c_nationkey,
         CAST(COUNT(e1) AS BIGINT) AS n1_scored,
         CAST(COALESCE(SUM(e1), 0) AS BIGINT) AS sum1,
         CAST(COUNT(e12) AS BIGINT) AS n12_scored,
         CAST(COALESCE(SUM(e12), 0) AS BIGINT) AS sum12
  FROM scored GROUP BY 1
)
SELECT c_nationkey, n1_scored,
       CAST(CASE WHEN n1_scored > 0 THEN sum1 // n1_scored END AS BIGINT)
         AS mae_naive_cents,
       n12_scored,
       CAST(CASE WHEN n12_scored > 0 THEN sum12 // n12_scored END AS BIGINT)
         AS mae_seasonal_cents,
       CASE WHEN n12_scored > 0 AND n1_scored > 0
                 AND sum12 * n1_scored < sum1 * n12_scored
            THEN 'seasonal' ELSE 'naive' END AS champion
FROM agg
"""

ANALYTICS_QUERIES["revenue_backtest"] = (
    q_revenue_backtest,
    SQL_REVENUE_BACKTEST,
)


# --- Month-over-month revenue bridge ------------------------------------------


def q_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue growth accounting: decompose each month's revenue change
    into the four customer movements — NEW (no revenue last month),
    CHURNED (no revenue this month), EXPANSION and CONTRACTION (both
    months, delta up / down) — the waterfall a Customer-360 revenue
    team reads before anything else, because "revenue grew 2%" means
    nothing until you know whether it was new logos or net expansion.

    The decomposition is EXACT by construction: for every month m,
    ``new + expansion + contraction - churned == total(m) -
    total(m-1)`` in integer cents (pinned in pytest).  Adjacency is a
    CALENDAR join on the computed previous-month key (a LAG over
    observed rows would mis-pair across gaps); the month just past the
    end of history reports the final all-churn row — a bridge that
    stopped at the last observed month would hide it.  Churned and
    contraction magnitudes are emitted as positive cents (the sign
    convention of the identity above).

    Scale shape: one fact-side hash aggregate to (customer, month)
    grain, then ONE full-outer self-join on the shifted (customer,
    month) key — an exchange on each side (full outer cannot
    broadcast), both customer-grain, i.e. ~1/30th of the fact volume —
    then a months-sized hash aggregate.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        money_cents("o_totalprice").alias("cents"),
        (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1)).alias("mi"),
    )
    rev = o.groupBy("o_custkey", "mi").agg(F.sum("cents").alias("rev"))
    cur = rev.select(
        F.col("o_custkey").alias("ck"), "mi", F.col("rev").alias("cur")
    )
    prv = rev.select(
        F.col("o_custkey").alias("pk"),
        (F.col("mi") + 1).alias("pmi"),
        F.col("rev").alias("prev"),
    )
    j = cur.join(
        prv, (cur["ck"] == prv["pk"]) & (cur["mi"] == prv["pmi"]), "full_outer"
    ).select(
        F.coalesce("mi", "pmi").alias("month_i"),
        "cur",
        "prev",
    )
    is_new = F.col("prev").isNull()
    is_churn = F.col("cur").isNull()
    up = (~is_new) & (~is_churn) & (F.col("cur") > F.col("prev"))
    down = (~is_new) & (~is_churn) & (F.col("cur") < F.col("prev"))
    return j.groupBy("month_i").agg(
        F.sum(F.when(is_new, 1).otherwise(0)).alias("n_new"),
        F.sum(F.when(is_new, F.col("cur")).otherwise(0)).alias("new_cents"),
        F.sum(F.when(is_churn, 1).otherwise(0)).alias("n_churned"),
        F.sum(F.when(is_churn, F.col("prev")).otherwise(0)).alias(
            "churned_cents"
        ),
        F.sum(F.when(up, 1).otherwise(0)).alias("n_expanded"),
        F.sum(F.when(up, F.col("cur") - F.col("prev")).otherwise(0)).alias(
            "expansion_cents"
        ),
        F.sum(F.when(down, 1).otherwise(0)).alias("n_contracted"),
        F.sum(F.when(down, F.col("prev") - F.col("cur")).otherwise(0)).alias(
            "contraction_cents"
        ),
    )


SQL_REVENUE_BRIDGE = """
WITH rev AS (
  SELECT o_custkey AS ck,
         CAST(YEAR(o_orderdate) * 12 + (MONTH(o_orderdate) - 1) AS BIGINT)
           AS mi,
         SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS rev
  FROM orders GROUP BY 1, 2
),
j AS (
  SELECT COALESCE(c.mi, p.mi + 1) AS month_i, c.rev AS cur, p.rev AS prev
  FROM rev c
  FULL OUTER JOIN rev p ON p.ck = c.ck AND p.mi + 1 = c.mi
)
SELECT month_i,
  CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
  CAST(SUM(CASE WHEN prev IS NULL THEN cur ELSE 0 END) AS BIGINT)
    AS new_cents,
  CAST(SUM(CASE WHEN cur IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
  CAST(SUM(CASE WHEN cur IS NULL THEN prev ELSE 0 END) AS BIGINT)
    AS churned_cents,
  CAST(SUM(CASE WHEN cur > prev THEN 1 ELSE 0 END) AS BIGINT) AS n_expanded,
  CAST(SUM(CASE WHEN cur > prev THEN cur - prev ELSE 0 END) AS BIGINT)
    AS expansion_cents,
  CAST(SUM(CASE WHEN cur < prev THEN 1 ELSE 0 END) AS BIGINT)
    AS n_contracted,
  CAST(SUM(CASE WHEN cur < prev THEN prev - cur ELSE 0 END) AS BIGINT)
    AS contraction_cents
FROM j GROUP BY 1
"""

ANALYTICS_QUERIES["revenue_bridge"] = (q_revenue_bridge, SQL_REVENUE_BRIDGE)


# --- Cohort lifetime value ----------------------------------------------------


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    month, each cohort's revenue tracked by months-since-acquisition,
    with the running cumulative and the per-customer LTV — the
    payback-period table next to ``cohort_retention``'s activity
    counts (retention says WHO came back; LTV says what they were
    worth).

    Exactness: revenue is integer cents; the cumulative is a window
    SUM over a (cohort, age) grain that is unique BY CONSTRUCTION
    (the pre-aggregate guarantees one row per key, so the running
    frame needs no tiebreak); ``ltv_per_customer_cents`` is an
    integer ``div`` of nonnegative totals by the fixed cohort size.

    Scale shape: one aggregate to customer grain for the cohort key
    (min month), one co-keyed join back onto the order aggregate, a
    second hash aggregate to (cohort, age) grain — dimension-sized
    from here — then ONE window shuffle partitioned by cohort.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        money_cents("o_totalprice").alias("cents"),
        (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1)).alias("mi"),
    )
    cohort = o.groupBy("o_custkey").agg(F.min("mi").alias("cohort_mi"))
    sizes = cohort.groupBy("cohort_mi").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    per_age = (
        o.join(cohort, "o_custkey")
        .groupBy("cohort_mi", (F.col("mi") - F.col("cohort_mi")).alias("age"))
        .agg(
            F.sum("cents").alias("rev_cents"),
            F.countDistinct("o_custkey").alias("n_active"),
        )
    )
    w = (
        Window.partitionBy("cohort_mi")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per_age.join(F.broadcast(sizes), "cohort_mi")
        .withColumn("cum_rev_cents", F.sum("rev_cents").over(w))
        .select(
            "cohort_mi",
            "age",
            "cohort_size",
            "n_active",
            "rev_cents",
            "cum_rev_cents",
            F.expr("cum_rev_cents div cohort_size").alias(
                "ltv_per_customer_cents"
            ),
        )
    )


SQL_COHORT_LTV = """
WITH o AS (
  SELECT o_custkey,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         CAST(YEAR(o_orderdate) * 12 + (MONTH(o_orderdate) - 1) AS BIGINT)
           AS mi
  FROM orders
),
cohort AS (
  SELECT o_custkey, MIN(mi) AS cohort_mi FROM o GROUP BY 1
),
sizes AS (
  SELECT cohort_mi, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM cohort GROUP BY 1
),
per_age AS (
  SELECT c.cohort_mi, o.mi - c.cohort_mi AS age,
         CAST(SUM(o.cents) AS BIGINT) AS rev_cents,
         CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active
  FROM o JOIN cohort c ON c.o_custkey = o.o_custkey
  GROUP BY 1, 2
)
SELECT p.cohort_mi, p.age, s.cohort_size, p.n_active, p.rev_cents,
       CAST(SUM(p.rev_cents) OVER (
         PARTITION BY p.cohort_mi ORDER BY p.age
         ROWS UNBOUNDED PRECEDING
       ) AS BIGINT) AS cum_rev_cents,
       CAST(SUM(p.rev_cents) OVER (
         PARTITION BY p.cohort_mi ORDER BY p.age
         ROWS UNBOUNDED PRECEDING
       ) // s.cohort_size AS BIGINT) AS ltv_per_customer_cents
FROM per_age p JOIN sizes s ON s.cohort_mi = p.cohort_mi
"""

ANALYTICS_QUERIES["cohort_ltv"] = (q_cohort_ltv, SQL_COHORT_LTV)


# --- ABC catalog classification -----------------------------------------------


def q_part_abc_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: within each brand, parts ranked
    by revenue and bucketed by cumulative share — A while the running
    total stays within 80% of the brand's revenue, B to 95%, C beyond
    (and unsold parts are C outright; a classification that promoted
    zero-revenue items off the boundary arithmetic would be wrong in
    the way auditors notice).  The catalog-side complement of
    ``revenue_pareto80``'s customer whale count.

    Exactness: revenue in integer cents; cumulative-share gates are
    cross-multiplied integer comparisons (``cum * 5 <= total * 4`` is
    "within 80%"), and the running frame orders by (revenue DESC,
    partkey) — a total order.  Unsold parts enter via a LEFT join from
    the catalog with revenue 0 so every part is classified.

    Scale shape: one fact-side hash aggregate to part grain, a
    co-keyed join onto the catalog dim, then ONE window shuffle
    partitioned by brand (brands are the parallelism unit; within a
    brand the running sum is the sequential part, which is what ABC
    *means* — a global-catalog variant would range-partition the sort).
    """
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", _revenue_cents().alias("rc"))
    rev = li.groupBy("l_partkey").agg(F.sum("rc").alias("rev_cents"))
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    x = p.join(rev, p["p_partkey"] == rev["l_partkey"], "left").select(
        "p_partkey",
        "p_brand",
        F.coalesce("rev_cents", F.lit(0)).cast("long").alias("rev_cents"),
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.col("rev_cents").desc(), F.col("p_partkey")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.partitionBy("p_brand")
    return (
        x.withColumn("cum_cents", F.sum("rev_cents").over(w))
        .withColumn("tot_cents", F.sum("rev_cents").over(wt))
        .select(
            "p_partkey",
            "p_brand",
            "rev_cents",
            "cum_cents",
            F.when(F.col("rev_cents") == 0, F.lit("C"))
            .when(F.col("cum_cents") * 5 <= F.col("tot_cents") * 4, F.lit("A"))
            .when(
                F.col("cum_cents") * 20 <= F.col("tot_cents") * 19, F.lit("B")
            )
            .otherwise(F.lit("C"))
            .alias("abc_class"),
        )
    )


SQL_PART_ABC_CLASS = f"""
WITH rev AS (
  SELECT l_partkey, SUM({_REVENUE_CENTS_SQL}) AS rev_cents
  FROM lineitem GROUP BY 1
),
x AS (
  SELECT p.p_partkey, p.p_brand,
         CAST(COALESCE(r.rev_cents, 0) AS BIGINT) AS rev_cents
  FROM part p LEFT JOIN rev r ON r.l_partkey = p.p_partkey
),
c AS (
  SELECT p_partkey, p_brand, rev_cents,
         CAST(SUM(rev_cents) OVER (
           PARTITION BY p_brand ORDER BY rev_cents DESC, p_partkey
           ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS cum_cents,
         CAST(SUM(rev_cents) OVER (PARTITION BY p_brand) AS BIGINT)
           AS tot_cents
  FROM x
)
SELECT p_partkey, p_brand, rev_cents, cum_cents,
       CASE WHEN rev_cents = 0 THEN 'C'
            WHEN cum_cents * 5 <= tot_cents * 4 THEN 'A'
            WHEN cum_cents * 20 <= tot_cents * 19 THEN 'B'
            ELSE 'C' END AS abc_class
FROM c
"""

ANALYTICS_QUERIES["part_abc_class"] = (q_part_abc_class, SQL_PART_ABC_CLASS)


# --- Supplier scorecard -------------------------------------------------------


def q_supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-360 scorecard: every supplier's volume, revenue,
    return rate, and ship latency in one row, ranked by revenue within
    nation — the procurement twin of the customer-side ``supplier_360``
    feature join, and the table a sourcing team sorts by ``rev_rank``
    every Monday.

    Exactness: revenue in integer cents; the return rate is emitted as
    an exact integer pair (``return_lines`` / ``n_lines``) rather than
    a ratio; ship latency is an integer day count (``datediff`` of two
    date-truncated timestamps) whose per-supplier total CAN GO
    NEGATIVE on out-of-order feeds (this corpus ships before the
    order date on some lines), so the mean is left to consumers as the
    exact pair (``sum_lat_days``, ``n_lines``) — a negative integer
    must never cross an engine division (Spark ``div`` truncates, SQL
    ``//`` floors); the national rank orders by (revenue DESC,
    suppkey) — a total order.

    Scale shape: ONE fact-fact equi-join (lineitem to orders on
    orderkey — co-partitioned at production scale, the single big
    shuffle here), one hash aggregate to supplier grain (map-side
    combine), then a dimension-sized window partitioned by nation.
    """
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag", "l_shipdate",
        _revenue_cents().alias("rc"),
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    per_supp = j.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("rc").alias("revenue_cents"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "return_lines"
        ),
        F.sum(
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
            .cast("long")
        ).alias("sum_lat_days"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("revenue_cents").desc(), F.col("s_suppkey")
    )
    return (
        s.join(per_supp, s["s_suppkey"] == per_supp["l_suppkey"], "left")
        .select(
            "s_suppkey",
            "s_nationkey",
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("revenue_cents", F.lit(0)).cast("long").alias(
                "revenue_cents"
            ),
            F.coalesce("return_lines", F.lit(0)).cast("long").alias(
                "return_lines"
            ),
            F.coalesce("sum_lat_days", F.lit(0)).cast("long").alias(
                "sum_lat_days"
            ),
        )
        .withColumn("rev_rank", F.row_number().over(w).cast("long"))
    )


SQL_SUPPLIER_SCORECARD = f"""
WITH per_supp AS (
  SELECT l.l_suppkey,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM({_REVENUE_CENTS_SQL}) AS BIGINT) AS revenue_cents,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS return_lines,
         CAST(SUM(DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE))) AS BIGINT)
           AS sum_lat_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_nationkey,
       CAST(COALESCE(p.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(p.revenue_cents, 0) AS BIGINT) AS revenue_cents,
       CAST(COALESCE(p.return_lines, 0) AS BIGINT) AS return_lines,
       CAST(COALESCE(p.sum_lat_days, 0) AS BIGINT) AS sum_lat_days,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY s.s_nationkey
         ORDER BY COALESCE(p.revenue_cents, 0) DESC, s.s_suppkey
       ) AS BIGINT) AS rev_rank
FROM supplier s LEFT JOIN per_supp p ON p.l_suppkey = s.s_suppkey
"""

ANALYTICS_QUERIES["supplier_scorecard"] = (
    q_supplier_scorecard,
    SQL_SUPPLIER_SCORECARD,
)


# --- bloom-filter join pruning (explicit runtime filter) --------------------

_BLOOM_M_WORDS, _BLOOM_K = 1024, 3


def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter fact-scan pruning (operators/bloom.py) exhibited on
    a selective orders->lineitem join: keys = one month's 1-URGENT
    orders (~0.4% of orders), fact = every lineitem probed on
    l_orderkey.

    Production usage is ``bloom_prune(fact, ...).join(dim)`` — the
    bloom is an in-row prefilter (array-literal bit tests, zero
    shuffle/join) that keeps the join's shuffle input at
    matches + false positives instead of the whole fact table.  This
    registered form additionally LEFT-joins the (bounded, broadcast)
    key set on the same single scan to measure what the bloom did:
    total fact rows, bloom survivors, true matches, false positives,
    and the exact revenue of the true matches — the numbers a 100 TB
    operator reads to size m/k.  Every figure incl. the
    false-positive SET is deterministic (md5 hashes, 63-bit words) and
    replayed exactly by the oracle.
    """
    from .operators.bloom import bloom_build, bloom_contains

    orders = _t(spark, sf_dir, "orders")
    keys = orders.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1995-03-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    ).select("o_orderkey")
    words = bloom_build(keys, "o_orderkey", m_words=_BLOOM_M_WORDS, k=_BLOOM_K)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", _revenue_cents().alias("rev")
    )
    probed = li.withColumn(
        "pass", bloom_contains(F.col("l_orderkey"), words, k=_BLOOM_K)
    )
    flagged = probed.join(
        F.broadcast(keys.withColumn("__m", F.lit(1))),
        probed["l_orderkey"] == F.col("o_orderkey"),
        "left",
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.sum(F.col("pass").cast("long")).alias("n_bloom_pass"),
        F.sum(F.coalesce(F.col("__m"), F.lit(0)).cast("long")).alias(
            "n_true_match"
        ),
        F.sum(
            (F.col("pass") & F.col("__m").isNull()).cast("long")
        ).alias("n_false_pos"),
        F.coalesce(
            F.sum(F.when(F.col("__m").isNotNull(), F.col("rev"))),
            F.lit(0),
        ).alias("matched_revenue_cents"),
    )


_BLOOM_M_BITS = _BLOOM_M_WORDS * 63

SQL_BLOOM_PRUNED_JOIN = f"""
WITH keys AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderpriority = '1-URGENT'
    AND o_orderdate >= TIMESTAMP '1995-03-01'
    AND o_orderdate < TIMESTAMP '1995-04-01'
), ivals AS (
  SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS i
), kpos AS (
  SELECT CAST(concat('0x', substr(md5(
           CAST(o_orderkey AS VARCHAR) || ':' || CAST(i AS VARCHAR)
         ), 1, 15)) AS BIGINT) % {_BLOOM_M_BITS} AS p
  FROM keys CROSS JOIN ivals
), words AS (
  SELECT p // 63 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INTEGER)) AS bits
  FROM kpos GROUP BY 1
), li AS (
  SELECT l_orderkey, l_linenumber, {_REVENUE_CENTS_SQL} AS rev
  FROM lineitem
), lpos AS (
  SELECT l_orderkey, l_linenumber,
         CAST(concat('0x', substr(md5(
           CAST(l_orderkey AS VARCHAR) || ':' || CAST(i AS VARCHAR)
         ), 1, 15)) AS BIGINT) % {_BLOOM_M_BITS} AS p
  FROM li CROSS JOIN ivals
), probed AS (
  SELECT l.l_orderkey, l.l_linenumber,
         bool_and(
           COALESCE(w.bits, 0)
             & (CAST(1 AS BIGINT) << CAST(lp.p % 63 AS INTEGER)) <> 0
         ) AS pass
  FROM lpos lp
  JOIN li l USING (l_orderkey, l_linenumber)
  LEFT JOIN words w ON w.word = lp.p // 63
  GROUP BY 1, 2
), flagged AS (
  SELECT li.rev, probed.pass,
         (keys.o_orderkey IS NOT NULL) AS matched
  FROM li
  JOIN probed USING (l_orderkey, l_linenumber)
  LEFT JOIN keys ON keys.o_orderkey = li.l_orderkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_fact,
       CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_pass,
       CAST(SUM(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true_match,
       CAST(SUM(CASE WHEN pass AND NOT matched THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       CAST(COALESCE(SUM(CASE WHEN matched THEN rev END), 0) AS BIGINT)
         AS matched_revenue_cents
FROM flagged
"""

ANALYTICS_QUERIES["bloom_pruned_join"] = (
    q_bloom_pruned_join,
    SQL_BLOOM_PRUNED_JOIN,
)


# --- seasonal decomposition (exact integer, 2x12 centered MA) ---------------


def q_revenue_seasonal_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of monthly order
    revenue, kept EXACT in integer arithmetic: the 2x12 centered
    moving average is emitted as trend24 = y[t-6] + 2*(y[t-5..t+5]) +
    y[t+6] (24x the real trend — the division never happens, so no
    cross-engine float), the detrended series as detrended24 =
    24*y - trend24, and the seasonal profile per calendar month as
    (seasonal_sum24, seasonal_n) — the caller divides once at the
    very end if it wants floats.  Completes the time-series surface
    beside revenue_cusum (changepoints), nation_revenue_trend (OLS)
    and revenue_backtest (forecast baselines).

    A CALENDAR month spine (sequence between the observed min/max
    month, zero-filled) makes the lag/lead offsets mean calendar
    months even when a small SF has order-free months.

    Scale shape: ONE fact aggregate to month grain (map-side
    combined); everything after operates on the months-sized frame
    (~80 rows for seven years), so the unpartitioned window is
    bounded by the calendar, never by data volume; the 12-row
    seasonal profile joins back broadcast.  Edge months (first/last
    six) carry NULL trend, exactly as the textbook defines.
    """
    o = _t(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        money_cents(F.col("o_totalprice")).alias("cents"),
    )
    monthly = o.groupBy("m").agg(F.sum("cents").alias("y"))
    span = monthly.agg(
        F.min("m").alias("lo"), F.max("m").alias("hi")
    )
    spine = span.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 month"))
        ).alias("m")
    )
    cal = (
        spine.join(monthly, "m", "left")
        .select("m", F.coalesce("y", F.lit(0)).alias("y"))
    )
    w = Window.orderBy("m")
    mid = F.sum("y").over(w.rowsBetween(-5, 5))
    trend24 = F.lag("y", 6).over(w) + 2 * mid + F.lead("y", 6).over(w)
    t = cal.select(
        (F.year("m") * 100 + F.month("m")).cast("long").alias("ym"),
        F.month("m").cast("long").alias("cal_month"),
        F.col("y").alias("revenue_cents"),
        trend24.alias("trend24"),
    ).withColumn(
        "detrended24", 24 * F.col("revenue_cents") - F.col("trend24")
    )
    seasonal = t.where(F.col("detrended24").isNotNull()).groupBy(
        "cal_month"
    ).agg(
        F.sum("detrended24").alias("seasonal_sum24"),
        F.count(F.lit(1)).alias("seasonal_n"),
    )
    return t.join(F.broadcast(seasonal), "cal_month", "left").select(
        "ym",
        "revenue_cents",
        "trend24",
        "detrended24",
        "seasonal_sum24",
        F.coalesce("seasonal_n", F.lit(0)).alias("seasonal_n"),
    )


SQL_REVENUE_SEASONAL_DECOMP = """
WITH monthly AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS y
  FROM orders GROUP BY 1
), spine AS (
  SELECT unnest(generate_series(
           (SELECT MIN(m) FROM monthly),
           (SELECT MAX(m) FROM monthly),
           INTERVAL 1 MONTH)) AS m
), cal AS (
  SELECT spine.m, COALESCE(monthly.y, 0) AS y
  FROM spine LEFT JOIN monthly USING (m)
), t AS (
  SELECT CAST(year(m) * 100 + month(m) AS BIGINT) AS ym,
         CAST(month(m) AS BIGINT) AS cal_month,
         y AS revenue_cents,
         lag(y, 6) OVER w
           + 2 * SUM(y) OVER (ORDER BY m
                              ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
           + lead(y, 6) OVER w AS trend24
  FROM cal
  WINDOW w AS (ORDER BY m)
), d AS (
  SELECT ym, cal_month, revenue_cents, trend24,
         24 * revenue_cents - trend24 AS detrended24
  FROM t
), seasonal AS (
  SELECT cal_month,
         CAST(SUM(detrended24) AS BIGINT) AS seasonal_sum24,
         CAST(COUNT(*) AS BIGINT) AS seasonal_n
  FROM d WHERE detrended24 IS NOT NULL GROUP BY 1
)
SELECT d.ym, d.revenue_cents,
       CAST(d.trend24 AS BIGINT) AS trend24,
       CAST(d.detrended24 AS BIGINT) AS detrended24,
       s.seasonal_sum24,
       COALESCE(s.seasonal_n, 0) AS seasonal_n
FROM d LEFT JOIN seasonal s USING (cal_month)
"""

ANALYTICS_QUERIES["revenue_seasonal_decomp"] = (
    q_revenue_seasonal_decomp,
    SQL_REVENUE_SEASONAL_DECOMP,
)


# --- TPC-H Q22 / Q21 shapes (decorrelated subquery compositions) ------------


def q_customer_prospects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape, adapted to this generator's always-active
    customers: per nation, the count and total balance of LAPSED
    prospects — customers with above-average positive account balance
    and NO orders in the trailing 12 months (cutoff = max order date
    minus 12 months, derived from the data).

    The classic correlated subqueries decorrelated the way a 100 TB
    plan wants them: BOTH scalar subqueries (average positive balance;
    the trailing-window cutoff) become tiny 1-row aggregates attached
    by broadcast crossJoin — no driver round-trip, no second scan —
    with the balance comparison done WITHOUT division via
    cross-multiplication (bal * n_pos > sum_pos, exact in integer
    cents); the NOT EXISTS becomes a left-anti join against the
    distinct recent-buyer custkeys.  Output is a nations-sized
    aggregate.
    """
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        money_cents(F.col("c_acctbal")).alias("bal_cents"),
    )
    pos_stats = cust.where(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("sum_pos"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    )
    cutoff = orders.agg(
        (
            F.max("o_orderdate") - F.expr("interval 12 months")
        ).alias("cut")
    )
    recent_buyers = (
        orders.crossJoin(F.broadcast(cutoff))
        .where(F.col("o_orderdate") >= F.col("cut"))
        .select("o_custkey")
        .distinct()
    )
    prospects = (
        cust.crossJoin(F.broadcast(pos_stats))
        .where(F.col("bal_cents") * F.col("n_pos") > F.col("sum_pos"))
        .join(
            recent_buyers,
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
    )
    return prospects.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_prospects"),
        F.sum("bal_cents").alias("total_bal_cents"),
    )


SQL_CUSTOMER_PROSPECTS = """
WITH cust AS (
  SELECT c_custkey, c_nationkey,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
  FROM customer
), pos AS (
  SELECT CAST(SUM(bal_cents) AS BIGINT) AS sum_pos,
         CAST(COUNT(*) AS BIGINT) AS n_pos
  FROM cust WHERE bal_cents > 0
), cutoff AS (
  SELECT MAX(o_orderdate) - INTERVAL 12 MONTH AS cut FROM orders
)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_prospects,
       CAST(SUM(bal_cents) AS BIGINT) AS total_bal_cents
FROM cust, pos, cutoff
WHERE bal_cents * n_pos > sum_pos
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= cut
  )
GROUP BY c_nationkey
"""

ANALYTICS_QUERIES["customer_prospects"] = (
    q_customer_prospects,
    SQL_CUSTOMER_PROSPECTS,
)


_DELAY_DAYS = 90
_WAITING_TOPK = 25


def q_sole_delayed_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY delayed supplier
    in a multi-supplier order ("kept orders waiting" — delay defined
    on the columns this schema carries: l_shipdate more than 90 days
    after o_orderdate).  Top 25 by waiting-order count.

    Q21's correlated EXISTS / NOT EXISTS pair collapses into ONE
    per-order aggregate: distinct suppliers, distinct delayed
    suppliers, and (valid exactly when the latter is 1) max of the
    delayed suppkey — so the whole multi-subquery query is two hash
    aggregates and a broadcast date attach, no self-joins of lineitem
    at all.  Final top-k is TakeOrderedAndProject (numwait DESC,
    suppkey ASC).
    """
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    flagged = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"interval {_DELAY_DAYS} days")
        ).alias("delayed"),
    )
    per_order = flagged.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("delayed"), F.col("l_suppkey"))
        ).alias("n_delayed_supp"),
        F.max(
            F.when(F.col("delayed"), F.col("l_suppkey"))
        ).alias("delayed_supp"),
    )
    waiting = per_order.where(
        (F.col("n_supp") >= 2) & (F.col("n_delayed_supp") == 1)
    )
    return (
        waiting.groupBy(F.col("delayed_supp").alias("s_suppkey"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(_WAITING_TOPK)
    )


SQL_SOLE_DELAYED_SUPPLIER = f"""
WITH flagged AS (
  SELECT l.l_orderkey, l.l_suppkey,
         l.l_shipdate > o.o_orderdate + INTERVAL {_DELAY_DAYS} DAY
           AS delayed
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN delayed THEN l_suppkey END)
           AS n_delayed_supp,
         MAX(CASE WHEN delayed THEN l_suppkey END) AS delayed_supp
  FROM flagged GROUP BY 1
)
SELECT delayed_supp AS s_suppkey,
       CAST(COUNT(*) AS BIGINT) AS numwait
FROM per_order
WHERE n_supp >= 2 AND n_delayed_supp = 1
GROUP BY 1
ORDER BY numwait DESC, s_suppkey
LIMIT {_WAITING_TOPK}
"""

ANALYTICS_QUERIES["sole_delayed_supplier"] = (
    q_sole_delayed_supplier,
    SQL_SOLE_DELAYED_SUPPLIER,
)


# --- k-core decomposition (graph density filter) -----------------------------

_KCORE_K, _KCORE_ROUNDS = 2, 16


def q_doc_near_dup_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core backbone of the near-duplicate pair graph
    (operators/graph.py k_core, k={k} over the exact word-trigram
    Jaccard >= 30% pairs of doc_jaccard_pairs): documents whose
    duplication is corroborated by at least {k} SURVIVING near-dup
    neighbors after iteratively peeling everything less reinforced.
    The 2-core separates clique-like true duplicate clusters (a doc
    re-posted N times pairs with every other copy) from isolated
    pairs and chain artifacts of borderline similarity — the
    graph-side confidence filter a dedup pipeline applies before
    aggressive removal, per the standard recipe (pairs -> graph
    structure -> act only where the structure is dense).  Completes
    the graph surface: components (membership), PageRank
    (centrality), triangles (local density), k-core (global density
    backbone).

    Bounded to {rounds} peel rounds for exact oracle parity — the
    peel is idempotent once converged, and convergence within
    {rounds} rounds on every shipped corpus is pytest-pinned, so this
    IS the true Seidman k-core there (the fixed-unroll DuckDB oracle
    replays the identical rounds).  Pair generation is the shared-
    shingle equi-join (the exact path; at 100 TB swap in
    minhash_lsh_join candidates — k_core takes any edge frame); each
    peel round is one degree aggregate + two vertex-keyed semi-joins,
    ONE scalar to the driver.
    """
    from .operators.dedup import jaccard_pairs
    from .operators.graph import k_core

    docs = _t(spark, sf_dir, "documents")
    edges = jaccard_pairs(docs, n=3, threshold_pct=30, exact=True)
    return k_core(
        edges,
        k=_KCORE_K,
        src="id_a",
        dst="id_b",
        max_iter=_KCORE_ROUNDS,
    ).select(F.col("id").alias("doc_id"), "core_degree")


q_doc_near_dup_core.__doc__ = q_doc_near_dup_core.__doc__.format(
    k=_KCORE_K, rounds=_KCORE_ROUNDS
)


def _k_core_sql(k: int, rounds: int) -> str:
    """Fixed-unroll replay of the peel over the exact Jaccard pair
    graph: `rounds` rounds of degree-filter + edge-restrict,
    idempotent past convergence (see q_doc_near_dup_core)."""
    out = [
        f"""
WITH toks AS (
  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
        FROM toks WHERE len(t) >= 3)
),
sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
-- MATERIALIZED: referenced every peel round; without the hint DuckDB
-- re-inlines the full shingle self-join per round (same hazard as
-- SQL_PART_TRIANGLES)
edges AS MATERIALIZED (
  SELECT id_a, id_b FROM pairs
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * 100 >= (sa.nsh + sb.nsh - inter) * 30
),
sym0 AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION ALL SELECT id_b AS u, id_a AS v FROM edges
)"""
    ]
    prev = "sym0"
    for r in range(1, rounds + 1):
        out.append(
            f""",
keep{r} AS MATERIALIZED (
  SELECT u FROM {prev} GROUP BY u HAVING COUNT(*) >= {k}
),
sym{r} AS MATERIALIZED (
  SELECT s.u, s.v FROM {prev} s
  JOIN keep{r} ka ON ka.u = s.u
  JOIN keep{r} kb ON kb.u = s.v
)"""
        )
        prev = f"sym{r}"
    out.append(
        f"""
SELECT u AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM {prev} GROUP BY u HAVING COUNT(*) >= {k}
"""
    )
    return "".join(out)


ANALYTICS_QUERIES["doc_near_dup_core"] = (
    q_doc_near_dup_core,
    _k_core_sql(_KCORE_K, _KCORE_ROUNDS),
)


# --- label-propagation communities -------------------------------------------

_LPA_ROUNDS = 6


def q_part_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-family communities on the repeated co-purchase graph
    (same weight >= {w} edges as part_triangles) by deterministic
    synchronous label propagation (operators/graph.py
    label_propagation, {r} rounds): each part repeatedly adopts the
    majority label of its neighbors, ties toward the smallest label —
    communities = densely attached regions, NOT mere reachability
    (one bridge edge merges two cliques under connected components
    but leaves them distinct here).  Completes the graph surface:
    components (reachability), PageRank (centrality), triangles
    (local density), k-core (global density), LPA (community
    structure).

    Scale notes: the pair expansion is the one fact-sized shuffle
    (shared with part_triangles); every LPA round is a vertex-keyed
    join + two map-side-combinable aggregates over the vertex-scaled
    graph, no window, nothing on the driver.  Synchronous rounds are
    the operator CONTRACT (see label_propagation docstring), so the
    fixed-unroll oracle replays the identical {r} rounds bit-for-bit.
    """
    from .operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    grouped = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, x -> "
                "transform(filter(ps, y -> y > x), "
                "y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    edges = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _TRI_MIN_ORDERS)
        .select("a", "b")
    )
    labels = label_propagation(edges, rounds=_LPA_ROUNDS, src="a", dst="b")
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    return labels.join(sizes, "label").select(
        F.col("id").alias("part_id"),
        F.col("label").alias("community"),
        "community_size",
    )


q_part_communities.__doc__ = q_part_communities.__doc__.format(
    w=_TRI_MIN_ORDERS, r=_LPA_ROUNDS
)


def _lpa_sql(rounds: int) -> str:
    """Fixed-unroll replay of synchronous min-tiebreak label
    propagation over the weight>={w} co-purchase graph (see
    q_part_communities)."""
    out = [
        f"""
WITH pairs AS (
  SELECT DISTINCT a.l_orderkey, a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
-- MATERIALIZED: referenced every round; without the hint DuckDB
-- re-inlines the fact-sized pair pipeline per reference (same hazard
-- as SQL_PART_TRIANGLES / SQL_PART_PAGERANK)
und AS MATERIALIZED (
  SELECT u AS a, v AS b FROM pairs
  GROUP BY u, v HAVING COUNT(*) >= {_TRI_MIN_ORDERS}
),
sym AS MATERIALIZED (
  SELECT a AS u, b AS v FROM und
  UNION ALL SELECT b AS u, a AS v FROM und
),
lab0 AS MATERIALIZED (
  SELECT DISTINCT u AS id, u AS label FROM sym
)"""
    ]
    prev = "lab0"
    for r in range(1, rounds + 1):
        out.append(
            f""",
votes{r} AS (
  SELECT s.u, l.label, COUNT(*) AS c
  FROM sym s JOIN {prev} l ON l.id = s.v
  GROUP BY s.u, l.label
),
lab{r} AS MATERIALIZED (
  SELECT u AS id, label FROM (
    SELECT u, label,
           row_number() OVER (PARTITION BY u ORDER BY c DESC, label)
             AS rn
    FROM votes{r}
  ) WHERE rn = 1
)"""
        )
        prev = f"lab{r}"
    out.append(
        f"""
SELECT l.id AS part_id, l.label AS community,
       CAST(sz.n AS BIGINT) AS community_size
FROM {prev} l
JOIN (SELECT label, COUNT(*) AS n FROM {prev} GROUP BY label) sz
  ON sz.label = l.label
"""
    )
    return "".join(out)


ANALYTICS_QUERIES["part_communities"] = (
    q_part_communities,
    _lpa_sql(_LPA_ROUNDS),
)


# --- KMV bottom-k sketch: distinct counts WITH intersections ------------------

_KMV_K = 128


def q_kmv_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix from KMV bottom-k sketches
    (operators/kmv.py): per event type, the sketch of distinct
    user_ids (k = {k} smallest 60-bit md5 hashes); per type PAIR, the
    bottom-k of the sketch UNION with the common-membership count —
    the sketch state from which union size, Jaccard, and INTERSECTION
    size are all estimable, the set operation the HLL rollup
    fundamentally cannot provide.  The exact pairwise intersection and
    union ride along (computable here because event_type is
    low-cardinality) as the in-row audit: at k={k} the estimates land
    within a few percent (accuracy pinned in pytest, where the one
    division lives — no float crosses engines).

    Scale notes: sketch build is one distinct aggregate + per-group
    bottom-k over DISTINCT hashes; everything pairwise touches
    k * n_groups rows, independent of fact volume.  Sketches are
    mergeable (bottom-k of unions), so daily sketch rows roll up
    without rescanning history — the same stop-rescanning contract as
    sketch_rollup_users, now closed under intersection.
    """
    from .operators.kmv import kmv_pair_overlap, kmv_sketch

    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    sk = kmv_sketch(ev, "event_type", "user_id", _KMV_K)
    ov = kmv_pair_overlap(sk, _KMV_K)

    du = ev.distinct()
    cnt = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        du.select(F.col("event_type").alias("ta"), "user_id")
        .join(
            du.select(F.col("event_type").alias("tb"), "user_id"),
            "user_id",
        )
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    return (
        ov.join(
            inter,
            (ov["ga"] == inter["ta"]) & (ov["gb"] == inter["tb"]),
            "left",
        )
        .join(cnt.select(F.col("event_type").alias("ga"), F.col("n").alias("na")), "ga")
        .join(cnt.select(F.col("event_type").alias("gb"), F.col("n").alias("nb")), "gb")
        .select(
            F.col("ga").alias("type_a"),
            F.col("gb").alias("type_b"),
            "kmv_common",
            "kmv_kept",
            "kmv_kth_hash",
            F.coalesce(F.col("exact_inter"), F.lit(0)).alias("exact_inter"),
            (
                F.col("na") + F.col("nb")
                - F.coalesce(F.col("exact_inter"), F.lit(0))
            ).alias("exact_union"),
        )
    )


q_kmv_audience_overlap.__doc__ = q_kmv_audience_overlap.__doc__.format(
    k=_KMV_K
)

SQL_KMV_AUDIENCE_OVERLAP = f"""
WITH ev AS (SELECT DISTINCT event_type AS grp, user_id FROM events),
h AS (
  SELECT DISTINCT grp,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM ev
),
sk AS (
  SELECT grp, h FROM (
    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
    FROM h
  ) WHERE rn <= {_KMV_K}
),
g AS (SELECT DISTINCT grp FROM sk),
prs AS (SELECT a.grp AS ga, b.grp AS gb FROM g a JOIN g b ON a.grp < b.grp),
tagged AS (
  SELECT p.ga, p.gb, s.h,
         MAX(CASE WHEN s.grp = p.ga THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.grp = p.gb THEN 1 ELSE 0 END) AS in_b
  FROM prs p JOIN sk s ON s.grp = p.ga OR s.grp = p.gb
  GROUP BY p.ga, p.gb, s.h
),
kept AS (
  SELECT * FROM (
    SELECT ga, gb, h, in_a, in_b,
           row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
    FROM tagged
  ) WHERE rn <= {_KMV_K}
),
ov AS (
  SELECT ga, gb,
         CAST(SUM(in_a * in_b) AS BIGINT) AS kmv_common,
         CAST(COUNT(*) AS BIGINT) AS kmv_kept,
         MAX(h) AS kmv_kth_hash
  FROM kept GROUP BY ga, gb
),
cnt AS (SELECT grp, COUNT(*) AS n FROM ev GROUP BY grp),
inter AS (
  SELECT a.grp AS ta, b.grp AS tb, COUNT(*) AS exact_inter
  FROM ev a JOIN ev b ON a.user_id = b.user_id AND a.grp < b.grp
  GROUP BY a.grp, b.grp
)
SELECT ov.ga AS type_a, ov.gb AS type_b,
       ov.kmv_common, ov.kmv_kept, ov.kmv_kth_hash,
       CAST(COALESCE(i.exact_inter, 0) AS BIGINT) AS exact_inter,
       CAST(ca.n + cb.n - COALESCE(i.exact_inter, 0) AS BIGINT)
         AS exact_union
FROM ov
LEFT JOIN inter i ON i.ta = ov.ga AND i.tb = ov.gb
JOIN cnt ca ON ca.grp = ov.ga
JOIN cnt cb ON cb.grp = ov.gb
"""

ANALYTICS_QUERIES["kmv_audience_overlap"] = (
    q_kmv_audience_overlap,
    SQL_KMV_AUDIENCE_OVERLAP,
)


# --- layout skipping audit: Z-order vs linear sort ----------------------------

_SKIP_FILES = 64
_SKIP_BANDS = 16


def q_layout_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE quantified case for multi-dimensional layout: how many of
    {files} clustered files a min/max-skipping reader must scan under
    {bands} range predicates per dimension, for a LINEAR sort layout
    (px, sx) vs the Z-ORDER layout of zorder_layout — per (layout,
    predicate dimension), total files whose [min, max] bounds
    intersect the predicate.  Linear sorting prunes px almost
    perfectly but is blind on sx (every file spans the full sx
    domain); Z-order prunes BOTH — the reason OPTIMIZE ZORDER exists,
    here as four audited integers instead of a slogan.

    Scale notes: the linear-layout file bounds come from
    operators/layout.py linear_file_bounds — NO global sort; one
    domain-sized key aggregate + a cumulative rank + an integer
    file-span explode (the naive ntile formulation would funnel the
    fact table through one sorted partition).  The Z-order bounds are
    one groupBy over the codegen'd Morton key.  Everything after the
    two aggregates is files x predicates rows.
    """
    from .operators.layout import linear_file_bounds, zorder_key

    coords = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("px"),
        (F.col("l_suppkey") % 256).alias("sx"),
    )
    lin = linear_file_bounds(coords, ["px", "sx"], _SKIP_FILES).select(
        F.lit("linear").alias("layout"),
        "file_id", "px_min", "px_max", "sx_min", "sx_max",
    )
    zb = (
        coords.withColumn("zkey", zorder_key(["px", "sx"], bits=8))
        .groupBy(F.shiftright("zkey", 10).alias("file_id"))
        .agg(
            F.min("px").alias("px_min"),
            F.max("px").alias("px_max"),
            F.min("sx").alias("sx_min"),
            F.max("sx").alias("sx_max"),
        )
        .select(
            F.lit("zorder").alias("layout"),
            "file_id", "px_min", "px_max", "sx_min", "sx_max",
        )
    )
    bounds = lin.unionByName(zb)
    band = 256 // _SKIP_BANDS
    preds = spark.range(2 * _SKIP_BANDS).select(
        F.when(F.col("id") < _SKIP_BANDS, F.lit("px"))
        .otherwise(F.lit("sx"))
        .alias("dim"),
        ((F.col("id") % _SKIP_BANDS) * band).alias("lo"),
        ((F.col("id") % _SKIP_BANDS) * band + band - 1).alias("hi"),
    )
    overlap = F.when(
        F.col("dim") == "px",
        ~((F.col("px_max") < F.col("lo")) | (F.col("px_min") > F.col("hi"))),
    ).otherwise(
        ~((F.col("sx_max") < F.col("lo")) | (F.col("sx_min") > F.col("hi")))
    )
    return (
        bounds.join(F.broadcast(preds), overlap)
        .groupBy("layout", F.col("dim").alias("pred_dim"))
        .agg(F.count(F.lit(1)).alias("files_scanned"))
    )


q_layout_skipping_audit.__doc__ = q_layout_skipping_audit.__doc__.format(
    files=_SKIP_FILES, bands=_SKIP_BANDS
)


def _layout_skipping_sql() -> str:
    from .operators.layout import zorder_key_sql

    z = zorder_key_sql(["px", "sx"], bits=8)
    band = 256 // _SKIP_BANDS
    return f"""
WITH coords AS (
  SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sx FROM lineitem
),
keyed AS (SELECT px, sx, COUNT(*) AS n FROM coords GROUP BY px, sx),
cum AS (
  SELECT px, sx, n,
         SUM(n) OVER (ORDER BY px, sx
                      ROWS UNBOUNDED PRECEDING) AS end_rank
  FROM keyed
),
tot AS (SELECT SUM(n) AS total FROM keyed),
spans_raw AS MATERIALIZED (
  -- MATERIALIZED: DuckDB 1.x binder mis-binds an unnest alias referenced
  -- through an inlined CTE filter; materializing is also free here (the
  -- CTE is key-domain-sized, not fact-sized).
  SELECT px, sx, total,
         unnest(generate_series(
           CAST(((end_rank - n) * {_SKIP_FILES}) // total AS BIGINT),
           CAST(((end_rank - 1) * {_SKIP_FILES}) // total AS BIGINT)))
           AS file_id
  FROM cum, tot
),
spans AS (
  SELECT px, sx, file_id FROM spans_raw
  WHERE (file_id * total + {_SKIP_FILES} - 1) // {_SKIP_FILES}
      < ((file_id + 1) * total + {_SKIP_FILES} - 1) // {_SKIP_FILES}
),
lin AS (
  SELECT 'linear' AS layout, file_id,
         MIN(px) AS px_min, MAX(px) AS px_max,
         MIN(sx) AS sx_min, MAX(sx) AS sx_max
  FROM spans GROUP BY file_id
),
zb AS (
  SELECT 'zorder' AS layout, zkey >> 10 AS file_id,
         MIN(px) AS px_min, MAX(px) AS px_max,
         MIN(sx) AS sx_min, MAX(sx) AS sx_max
  FROM (SELECT px, sx, ({z}) AS zkey FROM coords)
  GROUP BY zkey >> 10
),
bounds AS (SELECT * FROM lin UNION ALL SELECT * FROM zb),
preds AS (
  SELECT CASE WHEN i < {_SKIP_BANDS} THEN 'px' ELSE 'sx' END AS dim,
         (i % {_SKIP_BANDS}) * {band} AS lo,
         (i % {_SKIP_BANDS}) * {band} + {band - 1} AS hi
  FROM (SELECT unnest(generate_series(0, {2 * _SKIP_BANDS - 1})) AS i)
)
SELECT b.layout, p.dim AS pred_dim,
       CAST(COUNT(*) AS BIGINT) AS files_scanned
FROM bounds b JOIN preds p
  ON CASE WHEN p.dim = 'px'
          THEN NOT (b.px_max < p.lo OR b.px_min > p.hi)
          ELSE NOT (b.sx_max < p.lo OR b.sx_min > p.hi) END
GROUP BY b.layout, p.dim
"""


ANALYTICS_QUERIES["layout_skipping_audit"] = (
    q_layout_skipping_audit,
    _layout_skipping_sql(),
)


# --- multi-touch attribution ---------------------------------------------------

_ATTR_WINDOW_DAYS = 7
_ATTR_TOUCHES = ("click", "view", "signup")
_ATTR_SCALE = 1_000_000


def q_attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution — the
    Customer-360 marketing question funnel counts can't answer: how
    much purchase VALUE does each touch type actually drive?  Every
    purchase's cents are split across the user's touches
    ({touches}) in the preceding {days} days: first and last touch
    weight 2, middles weight 1 (n=1 keeps full credit) — integer
    weights so each touch's credit is
    ``value_cents * 1e6 * w div total_w`` (micro-cents, exact
    truncating division, cross-engine safe because everything is
    non-negative).  Purchases with NO preceding touch report under
    ``(none)`` with full credit, so total credited micro-cents
    reconciles to total purchase value up to per-purchase truncation
    (< total_w micro-cents each; identity pytest-pinned).

    Scale notes: the touch window is a user-keyed equi-join with an
    integer epoch-micros band predicate (per-user 7-day activity is
    bounded, so join fan-out is bounded); position weights come from
    one window over touches partitioned by purchase (bounded
    partitions); the output is touch-type-sized.  Credits are BIGINT
    micro-cents — at 100 TB roll the final SUM up in decimal(38,0).
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("us"),
        "user_id",
        "event_type",
        money_cents("value").alias("vc"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("us").alias("pus"),
        "user_id",
        "vc",
    )
    touch = ev.filter(F.col("event_type").isin(*_ATTR_TOUCHES)).select(
        F.col("event_id").alias("tid"),
        F.col("us").alias("tus"),
        "user_id",
        F.col("event_type").alias("touch_type"),
    )
    win_us = _ATTR_WINDOW_DAYS * 86_400 * 1_000_000
    joined = purch.join(
        touch,
        (purch["user_id"] == touch["user_id"])
        & (touch["tus"] < purch["pus"])
        & (touch["tus"] >= purch["pus"] - win_us),
    ).select("pid", "vc", "tid", "tus", "touch_type")
    wo = Window.partitionBy("pid").orderBy("tus", "tid")
    wn = Window.partitionBy("pid")
    ranked = joined.withColumn("rn", F.row_number().over(wo)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    credited = ranked.withColumn(
        "w",
        F.when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), 2).otherwise(
            1
        ),
    ).withColumn(
        "credit",
        F.expr(
            f"(vc * {_ATTR_SCALE} * w) div "
            "(CASE WHEN n = 1 THEN 2 ELSE n + 2 END)"
        ),
    )
    attributed = credited.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.countDistinct("pid").alias("n_purchases"),
        F.sum("credit").alias("credit_microcents"),
    )
    orphan = (
        purch.join(credited.select("pid").distinct(), "pid", "left_anti")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.coalesce(
                F.sum(F.col("vc") * _ATTR_SCALE), F.lit(0)
            ).alias("credit_microcents"),
        )
        .select(
            F.lit("(none)").alias("touch_type"),
            F.lit(0).cast("long").alias("n_touches"),
            "n_purchases",
            "credit_microcents",
        )
    )
    return attributed.unionByName(orphan)


q_attribution_multitouch.__doc__ = q_attribution_multitouch.__doc__.format(
    touches=", ".join(_ATTR_TOUCHES), days=_ATTR_WINDOW_DAYS
)

SQL_ATTRIBUTION_MULTITOUCH = f"""
WITH ev AS (
  SELECT event_id, epoch_us(ts) AS us, user_id, event_type,
         {_cents_sql('value')} AS vc
  FROM events
),
p AS (
  SELECT event_id AS pid, us AS pus, user_id, vc
  FROM ev WHERE event_type = 'purchase'
),
t AS (
  SELECT event_id AS tid, us AS tus, user_id, event_type AS touch_type
  FROM ev WHERE event_type IN ('click', 'view', 'signup')
),
j AS (
  SELECT p.pid, p.vc, t.tid, t.tus, t.touch_type
  FROM p JOIN t ON t.user_id = p.user_id
   AND t.tus < p.pus
   AND t.tus >= p.pus - {_ATTR_WINDOW_DAYS * 86_400 * 1_000_000}
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY pid ORDER BY tus, tid) AS rn,
         COUNT(*) OVER (PARTITION BY pid) AS n
  FROM j
),
c AS (
  SELECT touch_type, pid,
         (vc * {_ATTR_SCALE} *
          (CASE WHEN rn = 1 OR rn = n THEN 2 ELSE 1 END))
         // (CASE WHEN n = 1 THEN 2 ELSE n + 2 END) AS credit
  FROM r
),
agg AS (
  SELECT touch_type,
         CAST(COUNT(*) AS BIGINT) AS n_touches,
         CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_purchases,
         CAST(SUM(credit) AS BIGINT) AS credit_microcents
  FROM c GROUP BY touch_type
),
orphan AS (
  SELECT '(none)' AS touch_type,
         CAST(0 AS BIGINT) AS n_touches,
         CAST(COUNT(*) AS BIGINT) AS n_purchases,
         CAST(COALESCE(SUM(vc), 0) * {_ATTR_SCALE} AS BIGINT)
           AS credit_microcents
  FROM p WHERE pid NOT IN (SELECT pid FROM c)
)
SELECT * FROM agg UNION ALL SELECT * FROM orphan
"""

ANALYTICS_QUERIES["attribution_multitouch"] = (
    q_attribution_multitouch,
    SQL_ATTRIBUTION_MULTITOUCH,
)


# --- Kaplan-Meier customer survival --------------------------------------------

_KM_CENSOR_MONTHS = 6
_KM_SCALE = 1_000_000_000
_KM_ENC = 4_294_967_296  # 2^32


def q_customer_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier customer survival — the actuarial view of churn
    next to cohort_retention's calendar view: duration = tenure in
    months from a customer's first to last order; a customer whose
    last order falls within {cm} months of the corpus' final order
    month is CENSORED (still active — we know they survived this
    long, not when they churn), everyone else is a churn event at
    their duration.  Output per tenure month: at-risk count, churn
    events, censored exits, and the KM survival estimate
    ``S(t) = prod_(u<=t) (n_u - d_u) / n_u`` carried in integer fixed
    point (scale 1e9) with per-step truncating division — an integer
    recurrence both engines replay EXACTLY, unlike a float product
    (fold replayed in DuckDB via list_reduce; pure-Python third
    implementation pytest-pinned).

    Scale notes: one customer-keyed aggregate over orders (min/max
    date), one months-sized aggregate, one unpartitioned window over
    the ~tenure-months-sized frame (bounded by the calendar, never the
    fact table), and the O(T^2) in-row prefix folds run on that same
    tiny frame.  Fixed-point headroom: scale 1e9 times max at-risk
    must stay under 2^63 — fine to ~9e9 customers.
    """
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    midx = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    span = o.groupBy("o_custkey").agg(
        F.min(midx).alias("first_m"), F.max(midx).alias("last_m")
    )
    horizon = o.agg(F.max(midx).alias("max_m"))
    labeled = span.crossJoin(F.broadcast(horizon)).select(
        (F.col("last_m") - F.col("first_m")).alias("dur"),
        (
            F.col("max_m") - F.col("last_m") >= _KM_CENSOR_MONTHS
        ).alias("churned"),
    )
    monthly = labeled.groupBy(F.col("dur").alias("t")).agg(
        F.sum(F.when(F.col("churned"), 1).otherwise(0)).alias("d"),
        F.sum(F.when(F.col("churned"), 0).otherwise(1)).alias("c"),
    )
    w = (
        Window.orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    at_risk = monthly.withColumn(
        "n_at_risk", F.sum(F.col("d") + F.col("c")).over(w)
    )
    # one-row frame: months sorted ascending, each encoded as
    # (n - d) * 2^32 + n for the survival fold
    arr = at_risk.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "t",
                    "n_at_risk",
                    "d",
                    "c",
                    (
                        (F.col("n_at_risk") - F.col("d")) * _KM_ENC
                        + F.col("n_at_risk")
                    ).alias("enc"),
                )
            )
        ).alias("ms")
    )
    return arr.select(
        F.explode(
            F.expr(
                f"""transform(ms, (x, i) -> struct(
                      x.t AS tenure_month,
                      x.n_at_risk AS n_at_risk,
                      x.d AS d_churned,
                      x.c AS c_censored,
                      aggregate(slice(ms, 1, i + 1),
                                CAST({_KM_SCALE} AS BIGINT),
                                (acc, m) -> (acc * (m.enc div {_KM_ENC}))
                                            div (m.enc % {_KM_ENC}))
                        AS survival_fp9))"""
            )
        ).alias("r")
    ).select("r.*")


q_customer_survival.__doc__ = q_customer_survival.__doc__.format(
    cm=_KM_CENSOR_MONTHS
)

SQL_CUSTOMER_SURVIVAL = f"""
WITH o AS (
  SELECT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) AS m
  FROM orders
),
span AS (
  SELECT o_custkey, MIN(m) AS first_m, MAX(m) AS last_m
  FROM o GROUP BY o_custkey
),
hz AS (SELECT MAX(m) AS max_m FROM o),
lab AS (
  SELECT last_m - first_m AS dur,
         (max_m - last_m) >= {_KM_CENSOR_MONTHS} AS churned
  FROM span, hz
),
monthly AS (
  SELECT dur AS t,
         CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT) AS c
  FROM lab GROUP BY dur
),
ar AS (
  SELECT t, d, c,
         CAST(SUM(d + c) OVER (ORDER BY t DESC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS n_at_risk
  FROM monthly
)
SELECT m.t AS tenure_month, m.n_at_risk, m.d AS d_churned,
       m.c AS c_censored,
       (SELECT list_reduce(
                 list_prepend(CAST({_KM_SCALE} AS BIGINT),
                   list(CAST((u.n_at_risk - u.d) * {_KM_ENC} + u.n_at_risk
                        AS BIGINT) ORDER BY u.t)),
                 (acc, x) -> (acc * (x // {_KM_ENC})) // (x % {_KM_ENC}))
        FROM ar u WHERE u.t <= m.t) AS survival_fp9
FROM ar m
"""

ANALYTICS_QUERIES["customer_survival"] = (
    q_customer_survival,
    SQL_CUSTOMER_SURVIVAL,
)


# --- Herfindahl-Hirschman concentration ----------------------------------------


def q_nation_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration audit per nation: the Herfindahl-
    Hirschman index of supplier revenue shares, in exact parts-per-
    million — ``HHI = sum_i (s_i / S)^2`` computed division-free as
    ``(sum_i s_i^2) * 1e6 div S^2`` with the squares carried in
    decimal(38,0) (cents squared exceeds int64 headroom at production
    revenue; decimal sums stay exact and partition-order independent).
    The market-structure complement to nation_revenue_gini: Gini
    measures customer inequality, HHI flags monopolized SUPPLY (a
    procurement risk signal — 10000 ppm = '10 equal suppliers',
    1e6 ppm = single-source).

    Scale notes: one lineitem-sized aggregate (supplier x nation
    revenue), then nation-sized algebra; the supplier dim rides a
    broadcast.  All integer/decimal — exact at any SF.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", _revenue_cents().alias("rev_c")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    per_supp = (
        li.join(
            F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"]
        )
        .groupBy("s_nationkey", "s_suppkey")
        .agg(F.sum("rev_c").alias("rev"))
    )
    dec = F.col("rev").cast("decimal(38,0)")
    return (
        per_supp.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(dec * dec).alias("sum_sq"),
            F.sum(dec).alias("tot"),
        )
        .select(
            "s_nationkey",
            "n_suppliers",
            F.expr(
                "CAST((sum_sq * 1000000) div (tot * tot) AS BIGINT)"
            ).alias("hhi_ppm"),
        )
    )


SQL_NATION_REVENUE_HHI = """
WITH per_supp AS (
  SELECT s.s_nationkey, l.l_suppkey,
         SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100, 0)
             AS BIGINT)) AS rev
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey
)
SELECT s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST((SUM(CAST(rev AS HUGEINT) * rev) * 1000000)
            // (SUM(CAST(rev AS HUGEINT)) * SUM(CAST(rev AS HUGEINT)))
            AS BIGINT) AS hhi_ppm
FROM per_supp
GROUP BY s_nationkey
"""

ANALYTICS_QUERIES["nation_revenue_hhi"] = (
    q_nation_revenue_hhi,
    SQL_NATION_REVENUE_HHI,
)


# --- perceptual-hash media near-dup -------------------------------------------

#: Hamming radius for pigeonhole blocking. 4 -> five 12-13-bit chunks
#: -> 4-8k buckets per chunk; candidate volume under UNIFORM hashes is
#: ~n^2 / 2^width per chunk, so wider chunks (smaller radius) are what
#: keeps blocking subquadratic when the corpus has no perceptual
#: structure (the stub decoder's sha256 pixels are the worst case —
#: radius 6's 9-bit chunks measured 9.6x growth on 10x docs; radius
#: 4's 13-bit chunks keep bucket loads single-digit at 50k docs).
_PHASH_MAX_HAMMING = 4


def q_media_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate detection over BINARY media blobs —
    the stage after media_blob_dedup's exact byte dedup: pHash
    (operators/multimodal.py phash_table: stub 8x8 decode -> exact
    integer DCT-II -> median sign bits) per blob, then Hamming-near
    pairs (<= {mh} bits) via the SAME pigeonhole chunk blocking as
    SimHash (simhash_near_pairs accepts any int64 hash).  Output per
    media row: its 63-bit perceptual hash and how many near-dup
    neighbors it has.  With the deterministic stub decoder the
    pipeline's END-TO-END math (decode bytes, DCT, median, blocking,
    Hamming) is integer-exact and fully oracle-replayed; swapping the
    decode stage for Pillow (documented in phash_gray8) upgrades it to
    true perceptual matching with zero plan changes.

    Scale notes: hashing is one scan (JVM sha2/hex + one Arrow matmul
    batch); candidates are 7 chunk equi-joins on (chunk, cval) — never
    all-pairs; blobs themselves never shuffle (only 8-byte hashes do).
    """
    from .operators.dedup import simhash_near_pairs
    from .operators.multimodal import documents_as_media, phash_table

    media = documents_as_media(_t(spark, sf_dir, "documents"))
    ph = phash_table(media)
    pairs = simhash_near_pairs(
        ph.select(
            F.col("media_id").alias("doc_id"),
            F.col("phash").alias("simhash"),
        ),
        max_hamming=_PHASH_MAX_HAMMING,
    )
    sym = pairs.select(F.col("id_a").alias("media_id")).union(
        pairs.select(F.col("id_b").alias("media_id"))
    )
    nn = sym.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_near"))
    return ph.join(nn, "media_id", "left").select(
        "media_id",
        "phash",
        F.coalesce("n_near", F.lit(0)).alias("n_near"),
    )


q_media_phash_near_dup.__doc__ = q_media_phash_near_dup.__doc__.format(
    mh=_PHASH_MAX_HAMMING
)


def _phash_sql() -> str:
    # Row-wise list algebra throughout: an earlier formulation joined a
    # 64-row pixel table against the DCT constants twice (64x row
    # blow-up -> a 204M-row aggregate that spilled DuckDB's temp disk
    # at sf1); folding the DCT per media row keeps the oracle
    # constant-memory at any corpus size.
    from .operators.multimodal import PHASH_DCT

    cl = "[" + ", ".join(str(c) for row in PHASH_DCT for c in row) + "]"
    n_chunks = _PHASH_MAX_HAMMING + 1
    widths = [
        64 // n_chunks + (1 if i < 64 % n_chunks else 0)
        for i in range(n_chunks)
    ]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    chunk_rows = ", ".join(
        f"({i}, {offsets[i]}, {widths[i]})" for i in range(n_chunks)
    )
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         sha256(text) AS h1, sha256(text || chr(1)) AS h2
  FROM documents
),
cst AS (SELECT {cl} AS cl),
pxl AS (
  SELECT media_id,
         list_transform(generate_series(0, 63), i ->
           CAST(concat('0x', substr(CASE WHEN i < 32 THEN h1 ELSE h2 END,
                                    (i % 32) * 2 + 1, 2)) AS BIGINT)) AS px
  FROM m
),
-- ac[k] = DCT coefficient (u = k//8, v = k%8), k = 1..63 (DC dropped):
-- coeff(u,v) = sum_i px[i] * C[u][i//8] * C[v][i%8], all int64-exact
co AS (
  SELECT media_id,
         list_transform(generate_series(1, 63), k ->
           list_sum(list_transform(generate_series(0, 63), i ->
             px[i + 1]
             * cl[(k // 8) * 8 + (i // 8) + 1]
             * cl[(k % 8) * 8 + (i % 8) + 1]))) AS ac
  FROM pxl, cst
),
co2 AS (SELECT media_id, ac, list_sort(ac)[32] AS med FROM co),
ph AS (
  SELECT media_id,
         CAST(list_sum(list_transform(generate_series(1, 63), j ->
           CASE WHEN ac[j] > med
                THEN CAST(1 AS BIGINT) << (j - 1)
                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
  FROM co2
),
chunks AS (
  SELECT media_id, phash, ch.i AS chunk,
         (phash >> ch.off) & ((CAST(1 AS BIGINT) << ch.w) - 1) AS cval
  FROM ph, (VALUES {chunk_rows}) AS ch(i, off, w)
),
cand AS (
  SELECT DISTINCT a.media_id AS ia, b.media_id AS ib,
                  a.phash AS pa, b.phash AS pb
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.cval = b.cval AND a.media_id < b.media_id
),
prs AS (
  SELECT ia, ib FROM cand
  WHERE bit_count(xor(pa, pb)) <= {_PHASH_MAX_HAMMING}
),
nn AS (
  SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_near
  FROM (SELECT ia AS media_id FROM prs
        UNION ALL SELECT ib AS media_id FROM prs)
  GROUP BY media_id
)
SELECT ph.media_id, ph.phash,
       CAST(COALESCE(nn.n_near, 0) AS BIGINT) AS n_near
FROM ph LEFT JOIN nn USING (media_id)
"""


ANALYTICS_QUERIES["media_phash_near_dup"] = (
    q_media_phash_near_dup,
    _phash_sql(),
)


# --- nonparametric trend statistics (Mann-Kendall + Spearman) -----------------


def q_nation_trend_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric trend tests per nation over the monthly revenue
    series — the ROBUST companions to nation_revenue_trend's OLS
    slope (one 50x outlier month flips an OLS sign; rank statistics
    shrug):

    - ``mk_s``: Mann-Kendall S = sum over month pairs of
      sign(rev_later - rev_earlier) — the standard distribution-free
      trend test, an exact integer.
    - ``mk_var18``: n(n-1)(2n+5), the 18x null-variance numerator
      (caller divides by 18; revenue ties would subtract the usual
      tie term — tied pair counts are visible in mk_s's construction
      and zero on this corpus).
    - ``spearman_d2x4``: 4 * sum d^2 between average-rank(revenue)
      and time rank, with average ranks DOUBLED so ties stay integer
      (2*avg_rank = 2*min_rank + tie_count - 1); caller recovers
      rho = 1 - 6*(spearman_d2x4/4) / (n(n^2-1)).

    No division, no float: every statistic is an exact BIGINT both
    engines reproduce bit-for-bit.

    Scale notes: the fact table collapses to a (nation, month)
    aggregate first; the O(T^2) pair join and rank windows run on
    that calendar-bounded frame (~80 rows per nation), never on
    lineitem.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", _revenue_cents().alias("rev_c")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    monthly = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "c_nationkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "m"
            ),
        )
        .agg(F.sum("rev_c").alias("rev"))
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    mk = (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.m") < F.col("b.m")),
        )
        .groupBy(F.col("a.c_nationkey").alias("c_nationkey"))
        .agg(
            F.sum(
                F.when(F.col("b.rev") > F.col("a.rev"), 1)
                .when(F.col("b.rev") < F.col("a.rev"), -1)
                .otherwise(0)
            ).alias("mk_s")
        )
    )
    wr = Window.partitionBy("c_nationkey").orderBy("rev")
    wt = Window.partitionBy("c_nationkey").orderBy("m")
    wtie = Window.partitionBy("c_nationkey", "rev")
    ranked = (
        monthly.withColumn("r_min2", F.rank().over(wr) * 2)
        .withColumn("tie_n", F.count(F.lit(1)).over(wtie))
        .withColumn("rx2", F.col("r_min2") + F.col("tie_n") - 1)
        .withColumn("rt2", F.row_number().over(wt) * 2)
    )
    sp = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum(
            (F.col("rx2") - F.col("rt2")) * (F.col("rx2") - F.col("rt2"))
        ).alias("spearman_d2x4"),
    )
    return sp.join(mk, "c_nationkey").select(
        "c_nationkey",
        "n_months",
        "mk_s",
        (
            F.col("n_months")
            * (F.col("n_months") - 1)
            * (2 * F.col("n_months") + 5)
        ).alias("mk_var18"),
        "spearman_d2x4",
    )


SQL_NATION_TREND_RANK_STATS = """
WITH monthly AS (
  SELECT c.c_nationkey,
         year(o.o_orderdate) * 12 + month(o.o_orderdate) AS m,
         SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100, 0)
             AS BIGINT)) AS rev
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
mk AS (
  SELECT a.c_nationkey,
         CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
                       WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT)
           AS mk_s
  FROM monthly a JOIN monthly b
    ON b.c_nationkey = a.c_nationkey AND a.m < b.m
  GROUP BY a.c_nationkey
),
ranked AS (
  SELECT c_nationkey, m, rev,
         rank() OVER (PARTITION BY c_nationkey ORDER BY rev) * 2
           + COUNT(*) OVER (PARTITION BY c_nationkey, rev) - 1 AS rx2,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY m) * 2
           AS rt2
  FROM monthly
),
sp AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_months,
         CAST(SUM((rx2 - rt2) * (rx2 - rt2)) AS BIGINT) AS spearman_d2x4
  FROM ranked GROUP BY c_nationkey
)
SELECT sp.c_nationkey, sp.n_months, mk.mk_s,
       CAST(sp.n_months * (sp.n_months - 1) * (2 * sp.n_months + 5)
            AS BIGINT) AS mk_var18,
       sp.spearman_d2x4
FROM sp JOIN mk USING (c_nationkey)
"""

ANALYTICS_QUERIES["nation_trend_rank_stats"] = (
    q_nation_trend_rank_stats,
    SQL_NATION_TREND_RANK_STATS,
)


# --- seasonal residual outliers -----------------------------------------------

_SEAS_MAD_K = 3


def q_revenue_seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection on the seasonally-adjusted series —
    what revenue_seasonal_decomp's deferred divisions were FOR: within
    each calendar month's group of detrended observations, flag months
    whose deviation from the group's seasonal level exceeds
    {k}x the group MAD.  Comparing within the calendar-month group
    keeps every quantity on ONE common integer scale
    (dev = detrended24 * n_c - seasonal_sum24, scale 24*n_c for all
    members of group c), so medians are integer lower-medians and the
    {k}x-MAD test is a plain integer comparison — no division, no
    float, bit-exact in both engines.  (A cross-group comparison would
    need rational normalization across different n_c — exactly the
    trap the within-group formulation avoids.)

    Output per month with a defined trend: the deviation, its group
    median/MAD, and the flag.  Scale shape: identical to
    revenue_seasonal_decomp — one fact aggregate to month grain, then
    calendar-bounded algebra.
    """
    base = q_revenue_seasonal_decomp(spark, sf_dir).where(
        F.col("trend24").isNotNull() & (F.col("seasonal_n") > 0)
    )
    dev = base.withColumn(
        "cal_month", F.col("ym") % 100
    ).withColumn(
        "dev",
        F.col("detrended24") * F.col("seasonal_n")
        - F.col("seasonal_sum24"),
    )
    grp = Window.partitionBy("cal_month")
    # integer lower median: the ((n+1) div 2)-th smallest
    ordv = Window.partitionBy("cal_month").orderBy("dev", "ym")
    with_med = (
        dev.withColumn("rn", F.row_number().over(ordv))
        .withColumn("n_grp", F.count(F.lit(1)).over(grp))
        .withColumn(
            "med",
            F.max(
                F.when(
                    F.col("rn") == F.expr("(n_grp + 1) div 2"),
                    F.col("dev"),
                )
            ).over(grp),
        )
    )
    abs_dev = with_med.withColumn(
        "ad", F.abs(F.col("dev") - F.col("med"))
    )
    orda = Window.partitionBy("cal_month").orderBy("ad", "ym")
    with_mad = (
        abs_dev.withColumn("rna", F.row_number().over(orda))
        .withColumn(
            "mad",
            F.max(
                F.when(
                    F.col("rna") == F.expr("(n_grp + 1) div 2"),
                    F.col("ad"),
                )
            ).over(grp),
        )
    )
    return with_mad.select(
        "ym",
        "cal_month",
        "dev",
        "med",
        "mad",
        (
            F.abs(F.col("dev") - F.col("med"))
            > F.lit(_SEAS_MAD_K) * F.col("mad")
        ).alias("is_outlier"),
    )


q_revenue_seasonal_outliers.__doc__ = (
    q_revenue_seasonal_outliers.__doc__.format(k=_SEAS_MAD_K)
)

SQL_REVENUE_SEASONAL_OUTLIERS = f"""
WITH decomp AS ({SQL_REVENUE_SEASONAL_DECOMP.replace('d.ym', 'd.ym').strip()}),
dv AS (
  SELECT ym, ym % 100 AS cal_month,
         detrended24 * seasonal_n - seasonal_sum24 AS dev
  FROM decomp
  WHERE trend24 IS NOT NULL AND seasonal_n > 0
),
med AS (
  SELECT cal_month, dev AS med FROM (
    SELECT cal_month, dev,
           row_number() OVER (PARTITION BY cal_month ORDER BY dev, ym)
             AS rn,
           COUNT(*) OVER (PARTITION BY cal_month) AS n_grp
    FROM dv
  ) WHERE rn = (n_grp + 1) // 2
),
ad AS (
  SELECT dv.ym, dv.cal_month, dv.dev, med.med,
         ABS(dv.dev - med.med) AS adv
  FROM dv JOIN med USING (cal_month)
),
mad AS (
  SELECT cal_month, adv AS mad FROM (
    SELECT cal_month, adv,
           row_number() OVER (PARTITION BY cal_month ORDER BY adv, ym)
             AS rn,
           COUNT(*) OVER (PARTITION BY cal_month) AS n_grp
    FROM ad
  ) WHERE rn = (n_grp + 1) // 2
)
SELECT ad.ym, ad.cal_month, CAST(ad.dev AS BIGINT) AS dev,
       CAST(ad.med AS BIGINT) AS med, CAST(mad.mad AS BIGINT) AS mad,
       ABS(ad.dev - ad.med) > {_SEAS_MAD_K} * mad.mad AS is_outlier
FROM ad JOIN mad USING (cal_month)
"""

ANALYTICS_QUERIES["revenue_seasonal_outliers"] = (
    q_revenue_seasonal_outliers,
    SQL_REVENUE_SEASONAL_OUTLIERS,
)


# --- incremental connected-components maintenance -------------------------------


def q_incremental_components_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance for the dedup cluster labeling — the
    piece that turns connected components from a batch job into a
    DAILY one: the standing corpus (doc_id % 10 != 0) already has a
    (id, component) labeling; when new documents arrive, the update
    closes ONLY (label edges UNION pairs touching the arrivals) — the
    old PAIR SET is never re-read or re-shingled, because the
    vertex-sized label table preserves exactly its connectivity
    (id—component edges connect precisely the members of each old
    component; a standard union-find-style argument, pinned as the
    from-scratch-equality theorem in pytest on random graphs).
    Output: the refreshed full labeling ``(doc_id, component,
    is_new)`` — identical to a from-scratch closure over ALL pairs,
    which is exactly what the oracle computes.

    Scale notes: the incremental closure runs on |V| label edges +
    |new pairs| — independent of the historical pair volume; arrival
    pair-probing here uses the exact shared-shingle join for oracle
    parity (at corpus scale the probe is minhash_lsh_join against the
    persisted index — the incremental_corpus_dedup_indexed path, same
    contract).
    """
    from .operators.dedup import jaccard_pairs
    from .operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    # ONE shingle self-join; both the standing-corpus pair set and the
    # arrival pair set are filters of it (pairs among corpus docs are
    # exactly the all-docs pairs with neither side new, since shingle
    # intersection of two docs doesn't depend on the rest of the set).
    # localCheckpoint: consumed twice; pair sets are output-sized.
    all_pairs = (
        jaccard_pairs(docs, n=3, threshold_pct=30, exact=True)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    old_pairs = all_pairs.filter(
        (F.col("id_a") % 10 != 0) & (F.col("id_b") % 10 != 0)
    )
    labels_old = connected_components(
        old_pairs, vertices=corpus.select("doc_id")
    )
    new_pairs = all_pairs.filter(
        (F.col("id_a") % 10 == 0) | (F.col("id_b") % 10 == 0)
    )
    label_edges = labels_old.select(
        F.col("id").alias("id_a"), F.col("component").alias("id_b")
    )
    refreshed = connected_components(
        label_edges.unionByName(new_pairs),
        vertices=docs.select("doc_id"),
    )
    return refreshed.select(
        F.col("id").alias("doc_id"),
        "component",
        (F.col("id") % 10 == 0).alias("is_new"),
    )


SQL_INCREMENTAL_COMPONENTS_UPDATE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
        FROM toks WHERE len(t) >= 3)
),
sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS MATERIALIZED (
  SELECT id_a, id_b FROM pairs
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * 100 >= (sa.nsh + sb.nsh - inter) * 30
),
e AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION ALL SELECT id_b AS u, id_a AS v FROM edges
),
reach(v, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.v, e.v FROM reach JOIN e ON reach.r = e.u
)
SELECT v AS doc_id, MIN(r) AS component, (v % 10 = 0) AS is_new
FROM reach GROUP BY v
"""

ANALYTICS_QUERIES["incremental_components_update"] = (
    q_incremental_components_update,
    SQL_INCREMENTAL_COMPONENTS_UPDATE,
)


# --- join-key skew audit ---------------------------------------------------------


def q_join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The report a 100 TB pipeline runs BEFORE picking a join
    strategy (broadcast / salt / AQE-skew-join): the full shape of the
    lineitem join-key distribution (l_orderkey), exactly.  One row:
    key count, row count, max multiplicity, exact p50/p99 multiplicity,
    the row share held by the hottest 1% of keys, and the Gini of key
    multiplicities — all integers or exact ppm (truncating division of
    non-negative quantities).

    The trick that keeps it scale-clean: after ONE fact-sized
    aggregate (rows per key), everything operates on the
    FREQUENCY-OF-FREQUENCY histogram — (multiplicity, n_keys) pairs,
    whose cardinality is bounded by the number of DISTINCT
    multiplicities (single digits for lines-per-order; at worst
    O(sqrt(rows)) for any distribution since multiplicities m_i with
    sum m_i = N admit at most ~sqrt(2N) distinct values).  Exact
    quantiles come from cumulative counts over that tiny frame (the
    one unpartitioned window is histogram-sized, never key-sized);
    the grouped-data rank identity gives the exact Gini without
    sorting keys: for buckets sorted by multiplicity v_j with c_j keys
    and C_j keys before, 2*sum(rank_i * x_i) =
    sum_j v_j * c_j * (2*C_j + c_j + 1).
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    freq = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("m"))
    hist = freq.groupBy("m").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wd = Window.orderBy(F.col("m").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        hist.withColumn("cum_keys", F.sum("c").over(w))
        .withColumn("cum_keys_desc", F.sum("c").over(wd))
        .withColumn("cum_rows_desc", F.sum(F.col("m") * F.col("c")).over(wd))
    )
    tot = cum.agg(
        F.sum("c").alias("n_keys"),
        F.sum(F.col("m") * F.col("c")).alias("n_rows"),
        F.max("m").alias("max_freq"),
        # grouped-data rank identity (ascending-multiplicity ranks)
        F.sum(
            F.col("m")
            * F.col("c")
            * (2 * (F.col("cum_keys") - F.col("c")) + F.col("c") + 1)
        ).alias("sum_rx2"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    # exact lower quantiles of the multiplicity multiset
    p50 = j.filter(
        F.col("cum_keys") >= F.expr("(n_keys + 1) div 2")
    ).agg(F.min("m").alias("p50_freq"))
    p99 = j.filter(
        # k-th smallest with k = ceil(0.99 * n_keys)
        F.col("cum_keys") * 100 >= F.col("n_keys") * 99
    ).agg(F.min("m").alias("p99_freq"))
    # hottest ceil(1%) of keys: walk buckets from the top; partial
    # bucket contributes (k - keys_above) * m
    top = (
        j.withColumn("k_top", F.expr("(n_keys + 99) div 100"))
        .withColumn(
            "share_rows",
            F.when(
                F.col("cum_keys_desc") <= F.col("k_top"),
                F.col("cum_rows_desc"),
            ).otherwise(
                F.col("cum_rows_desc")
                - (F.col("cum_keys_desc") - F.col("k_top")) * F.col("m")
            ),
        )
        .filter(F.col("cum_keys_desc") >= F.col("k_top"))
        # exact only at the FIRST qualifying bucket of the descending
        # walk (the one holding the k_top-th hottest key) — deeper
        # buckets subtract their own smaller m for keys that belong to
        # larger buckets and overstate; max_by(m) picks the right one
        .agg(F.expr("max_by(share_rows, m)").alias("top1pct_rows"))
    )
    out = (
        tot.crossJoin(F.broadcast(p50))
        .crossJoin(F.broadcast(p99))
        .crossJoin(F.broadcast(top))
    )
    return out.select(
        "n_keys",
        "n_rows",
        "max_freq",
        "p50_freq",
        "p99_freq",
        F.expr("(top1pct_rows * 1000000) div n_rows").alias(
            "top1pct_share_ppm"
        ),
        F.expr(
            "((2 * sum_rx2 - 2 * (n_keys + 1) * n_rows) * 1000000) "
            "div (2 * n_keys * n_rows)"
        ).alias("freq_gini_ppm"),
    )


SQL_JOIN_SKEW_AUDIT = """
WITH freq AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS m
  FROM lineitem GROUP BY l_orderkey
),
hist AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS c FROM freq GROUP BY m),
cum AS (
  SELECT m, c,
         CAST(SUM(c) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_keys,
         CAST(SUM(c) OVER (ORDER BY m DESC ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_keys_desc,
         CAST(SUM(m * c) OVER (ORDER BY m DESC ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_rows_desc
  FROM hist
),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_keys,
         CAST(SUM(m * c) AS BIGINT) AS n_rows,
         MAX(m) AS max_freq,
         CAST(SUM(m * c * (2 * (cum_keys - c) + c + 1)) AS BIGINT)
           AS sum_rx2
  FROM cum
),
p50 AS (
  SELECT MIN(m) AS p50_freq FROM cum, tot
  WHERE cum_keys >= (n_keys + 1) // 2
),
p99 AS (
  SELECT MIN(m) AS p99_freq FROM cum, tot
  WHERE cum_keys * 100 >= n_keys * 99
),
top AS (
  -- exact only at the FIRST qualifying bucket of the descending walk
  -- (see the Spark twin): arg_max(_, m) selects it
  SELECT arg_max(CASE WHEN cum_keys_desc <= k_top THEN cum_rows_desc
                      ELSE cum_rows_desc - (cum_keys_desc - k_top) * m
                 END, m) AS top1pct_rows
  FROM (SELECT cum.*, (n_keys + 99) // 100 AS k_top, n_keys
        FROM cum, tot)
  WHERE cum_keys_desc >= k_top
)
SELECT n_keys, n_rows, max_freq, p50_freq, p99_freq,
       CAST((top1pct_rows * 1000000) // n_rows AS BIGINT)
         AS top1pct_share_ppm,
       CAST(((2 * sum_rx2 - 2 * (n_keys + 1) * n_rows) * 1000000)
            // (2 * n_keys * n_rows) AS BIGINT) AS freq_gini_ppm
FROM tot, p50, p99, top
"""

ANALYTICS_QUERIES["join_skew_audit"] = (
    q_join_skew_audit,
    SQL_JOIN_SKEW_AUDIT,
)


# --- streaming histogram-sketch rollup -------------------------------------------


def q_streaming_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The histogram-sketch rollup AT INGEST RATE — the deployment
    shape mergeable sketches exist for: orders arrive in >= 2
    file-source micro-batches, EACH batch emits its own per-day
    histogram-sketch rows (operators/aggregates.py histogram_sketch)
    through the scale-safe per-batch parquet sink
    (sink_foreach_batch — no driver-side accumulation), and the final
    monthly/overall p50/p90/p99 come from merging the SINK rows by
    plain bin-wise count sums.  A day whose orders straddle a batch
    boundary leaves two partial sketch rows for the same (day, bin) —
    the merge absorbing them IS the mergeability property, exercised
    under real micro-batching rather than claimed.

    Shares histogram_rollup_quantiles' exact oracle: per-row binning
    is batch-independent and the merge is associative integer
    addition, so the streamed result must equal the one-shot batch
    rollup bit-for-bit — the hash-match is the batching-invariance
    statement (same contract as streaming_quality_gate /
    streaming_dq_gate).
    """
    import os
    import tempfile

    from .operators.aggregates import histogram_quantiles, histogram_sketch
    from .streaming.incremental import (
        read_batch_sink,
        sink_foreach_batch,
        stream_file_source,
    )

    LO, HI, NB = 0, 64_000_000, 64  # cents; width = 1,000,000 exactly
    orders = _t(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="c360_stream_hist_")
    arrivals = os.path.join(tmp, "arrivals")
    orders.filter(F.col("o_orderkey") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(arrivals)
    orders.filter(F.col("o_orderkey") % 2 != 0).coalesce(1).write.mode(
        "append"
    ).parquet(arrivals)
    stream = stream_file_source(
        spark, arrivals, orders.schema, max_files_per_trigger=1
    )
    sink = os.path.join(tmp, "sketches")

    def sketch(batch_df: DataFrame) -> DataFrame:
        rows = batch_df.select(
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
            money_cents("o_totalprice").alias("c"),
        )
        return histogram_sketch(rows, "c", ["day"], LO, HI, NB)

    sink_foreach_batch(stream, os.path.join(tmp, "ckpt"), sink, sketch)
    daily = read_batch_sink(spark, sink)
    monthly = daily.groupBy(
        F.substring("day", 1, 7).alias("scope"), "bin"
    ).agg(F.sum("cnt").alias("cnt"))
    overall = (
        daily.groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
        .select(F.lit("ALL").alias("scope"), "bin", "cnt")
    )
    return histogram_quantiles(
        monthly.unionByName(overall), ["scope"], [50, 90, 99], LO, HI, NB
    )


ANALYTICS_QUERIES["streaming_sketch_rollup"] = (
    q_streaming_sketch_rollup,
    SQL_HISTOGRAM_ROLLUP_QUANTILES,
)


def q_streaming_exactly_once_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming JDBC delivery, proven by a full disaster
    replay (sinks.jdbc_exactly_once_sink — stage-then-promote with an
    epoch ledger, r7 verdict item 6 made gate-visible): documents
    arrive in 3 file-source micro-batches and land in an embedded-
    Derby table through the sink; then the ENTIRE stream is re-run
    from a FRESH checkpoint over the same arrivals — the worst
    recovery case, every epoch redelivered — and the ledger turns
    each redelivery into a no-op.  The returned per-bucket aggregate
    over the DB table therefore equals exactly ONE copy of the
    arrivals; any double-write breaks both n_docs and total_chars,
    so the plain-SQL oracle is the exactly-once statement itself.

    Scale notes: executors write only the batch-sized staging table
    (parallel JDBC); the promote is one set-based INSERT-SELECT
    inside the database + one ledger row per epoch, all in a single
    transaction.  Each invocation uses a FRESH in-memory Derby db +
    app_id (uuid) so every run measures the real delivery path — a
    shared ledger would turn bench passes 2+ into pure no-op skips
    (r8 review finding) — and drops the db afterward; the in-RUN
    replay (second stream below) is what exercises the ledger-skip
    path."""
    import os
    import tempfile
    import uuid

    from .sinks import jdbc_exactly_once_sink
    from .streaming.incremental import run_foreach_batch, stream_file_source

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )
    subset = docs.filter(F.col("doc_id") < 3000)
    tmp = tempfile.mkdtemp(prefix="c360_eo_jdbc_")
    arrivals = os.path.join(tmp, "arrivals")
    # pin strictly increasing, well-separated mtimes per arrival file:
    # the file source orders unread files by modification time, and the
    # fingerprinted ledger (correctly) RAISES if a replay pairs an
    # epoch with different content — so the file->epoch mapping must be
    # a total order, never a same-millisecond tie broken by listing
    # luck
    import glob

    seen: set[str] = set()
    for r in range(3):
        subset.filter(F.col("doc_id") % 3 == r).coalesce(1).write.mode(
            "append"
        ).parquet(arrivals)
        stamp = 1_700_000_000 + r * 60
        for f in glob.glob(os.path.join(arrivals, "*.parquet")):
            if f not in seen:
                os.utime(f, (stamp, stamp))
                seen.add(f)
    tag = uuid.uuid4().hex[:12]
    url = f"jdbc:derby:memory:eo{tag};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    sink = jdbc_exactly_once_sink(
        url, "eo_docs", app_id=f"eo{tag}", driver=driver
    )
    stream = stream_file_source(
        spark, arrivals, subset.schema, max_files_per_trigger=1
    )
    run_foreach_batch(stream, os.path.join(tmp, "ckpt1"), sink)
    # disaster replay: fresh checkpoint, same arrivals, same app_id —
    # Structured Streaming redelivers epochs 0..2; each must no-op
    stream2 = stream_file_source(
        spark, arrivals, subset.schema, max_files_per_trigger=1
    )
    run_foreach_batch(stream2, os.path.join(tmp, "ckpt2"), sink)
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "eo_docs")
        .option("driver", driver)
        .load()
    )
    out = back.groupBy((F.col("doc_id") % 5).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    rows = out.collect()  # materialize before dropping the backing db
    # drop the per-invocation in-memory db (Derby signals a successful
    # in-memory drop with SQLException 08006 on the connect attempt)
    try:
        spark._jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:memory:eo{tag};drop=true"
        )
    except Exception:  # noqa: BLE001 - 08006 IS the success signal
        pass
    return spark.createDataFrame(rows, out.schema)


SQL_STREAMING_EXACTLY_ONCE_JDBC = """
SELECT doc_id % 5 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE doc_id < 3000
GROUP BY 1
"""

ANALYTICS_QUERIES["streaming_exactly_once_jdbc"] = (
    q_streaming_exactly_once_jdbc,
    SQL_STREAMING_EXACTLY_ONCE_JDBC,
)


# --- point-in-time (leakage-safe) feature join -----------------------------------


def q_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe training features — THE correctness rule of ML
    feature engineering on event data: every feature attached to an
    order must be computable from STRICTLY EARLIER events only (a
    feature that peeks at the labeled event or later inflates offline
    metrics and dies in production).  Per order: how many orders the
    customer had placed before it, their total spend in cents before
    it, and days since the previous order — all via cumulative windows
    ordered by (o_orderdate, o_orderkey) with the current row EXCLUDED
    (rowsBetween(unboundedPreceding, -1)), the window-native form of a
    point-in-time join that cannot leak by construction.

    Ties on the same date break by o_orderkey — same total order both
    engines replay, so the 'strictly earlier' set is deterministic
    even for same-day orders.  ASSUMPTION stated plainly (ADVICE r6):
    with date-granularity events, a same-day peer order with a
    SMALLER o_orderkey is treated as strictly earlier, which is
    leakage-safe only because orderkeys are assigned in arrival
    order (true of TPC-H-style keys and of any monotonic id); if
    your keys do NOT follow intra-day time order, switch the frame
    to a RANGE over the date (strictly earlier DATES only:
    ``Window.orderBy(unix_date).rangeBetween(unboundedPreceding,
    -1)``), which excludes all same-day peers at the cost of
    coarser features.  Output keeps BIGINT cents and the raw
    day gap; first orders carry 0 / 0 / NULL.

    Scale notes: one customer-partitioned window over the fact —
    hash-partitioned by the feature entity, the same shuffle any
    feature store pays once; no self-join, no range join, no
    per-order probe.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        money_cents(F.col("o_totalprice")).alias("vc"),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.coalesce(F.count(F.lit(1)).over(wprev), F.lit(0)).alias(
            "prior_orders"
        ),
        F.coalesce(F.sum("vc").over(wprev), F.lit(0)).alias(
            "prior_spend_cents"
        ),
        F.datediff(
            "o_orderdate", F.lag("o_orderdate", 1).over(w)
        ).cast("long").alias("days_since_prev"),
    )


SQL_POINT_IN_TIME_FEATURES = """
SELECT o_orderkey, o_custkey,
       CAST(COUNT(*) OVER w_prev AS BIGINT) AS prior_orders,
       CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                     OVER w_prev, 0) AS BIGINT) AS prior_spend_cents,
       CAST(date_diff('day',
              lag(o_orderdate, 1) OVER w_ord, o_orderdate) AS BIGINT)
         AS days_since_prev
FROM orders
WINDOW
  w_prev AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
  w_ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""

ANALYTICS_QUERIES["point_in_time_features"] = (
    q_point_in_time_features,
    SQL_POINT_IN_TIME_FEATURES,
)


def q_point_in_time_features_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The RANGE-frame sibling of point_in_time_features (ADVICE r6,
    executed rather than just documented): features from STRICTLY
    EARLIER DATES only — a ``rangeBetween(unboundedPreceding, -1)``
    frame over the integer epoch day excludes ALL same-day peer
    orders, so leakage-safety holds with NO assumption about
    orderkey-vs-intra-day-time order (the trade: coarser features —
    a customer's second order of the day sees none of the first).

    Per order: prior_orders / prior_spend_cents over earlier dates,
    and days_since_prev as the gap to the customer's latest EARLIER
    day (``day - max(day) over frame`` — well-defined without any
    intra-day ordering, which is the point).  Deterministic without
    tiebreaks: the frame depends only on the DATE, so every same-day
    permutation of input rows yields identical output.

    Scale shape: identical to the ROWS sibling — one entity-
    partitioned window over the fact, no self-join, no range join.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.unix_date(F.to_date("o_orderdate")).alias("day"),
        money_cents(F.col("o_totalprice")).alias("vc"),
    )
    wr = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.count(F.lit(1)).over(wr).alias("prior_orders"),
        F.coalesce(F.sum("vc").over(wr), F.lit(0)).alias(
            "prior_spend_cents"
        ),
        (F.col("day") - F.max("day").over(wr)).cast("long").alias(
            "days_since_prev"
        ),
    )


SQL_POINT_IN_TIME_FEATURES_DAILY = """
SELECT o_orderkey, o_custkey,
       CAST(COUNT(*) OVER w AS BIGINT) AS prior_orders,
       CAST(COALESCE(SUM(cents) OVER w, 0) AS BIGINT)
         AS prior_spend_cents,
       CAST(day - MAX(day) OVER w AS BIGINT) AS days_since_prev
FROM (
  SELECT o_orderkey, o_custkey,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day
  FROM orders
)
WINDOW w AS (PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""

ANALYTICS_QUERIES["point_in_time_features_daily"] = (
    q_point_in_time_features_daily,
    SQL_POINT_IN_TIME_FEATURES_DAILY,
)


# --- multi-source BFS hop distances ------------------------------------------


def q_part_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blast-radius BFS (operators/graph.py bfs_hops): minimum hop
    count from the 3 lowest-keyed parts to every part reachable within
    4 hops of the co-purchase graph (parts linked when they share an
    order).  This is the recall-expansion primitive corpus curation
    uses ("also pull everything within k links of a flagged item") and
    the affinity-tier signal a warehouse uses around a seed product —
    the distance answer that components (reachable at all) and
    PageRank (central) don't give.

    Scale notes: edges build from ONE shuffle of the (orderkey,
    partkey) projection with the in-row pair expansion part_pagerank
    measured ~35% faster than a self-join; per BFS round one
    frontier⋈edges join + one vertex-sized anti-join (see bfs_hops
    docstring for why the anti-join keeps work O(boundary) not
    O(paths)).  Hop counts are integers and distances are unique
    minima, so the result is partitioning-independent and the oracle
    replays the textbook recursion (recursive CTE) rather than this
    frontier formulation — two independent constructions of the same
    fixpoint.
    """
    from .operators.graph import bfs_hops

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x -> "
                    "transform(ps, y -> struct(x AS src, y AS dst))))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst"))
    )
    seeds = li.select("l_partkey").distinct().orderBy("l_partkey").limit(3)
    # the in-row expansion emits both directions -> skip the union
    hops = bfs_hops(
        pairs, seeds, max_hops=4, src="src", dst="dst",
        assume_symmetric=True, dedup_edges=False,
    )
    return hops.select(
        F.col("id").alias("part_id"), F.col("hops").cast("int").alias("hops")
    )


SQL_PART_BFS_HOPS = """
-- Replays BFS as the textbook recursive closure: every walk extension
-- within 4 hops (UNION dedups identical (id, hops) rows, bounding the
-- recursion), then MIN(hops) per vertex — an independent formulation
-- of the frontier/anti-join fixpoint the engine computes.
WITH RECURSIVE li AS (SELECT l_orderkey, l_partkey FROM lineitem),
pairs AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
seeds AS (SELECT DISTINCT l_partkey AS id FROM li ORDER BY 1 LIMIT 3),
walk AS (
  SELECT id, 0 AS hops FROM seeds
  UNION
  SELECT p.v AS id, w.hops + 1 AS hops
  FROM walk w JOIN pairs p ON p.u = w.id
  WHERE w.hops < 4
)
SELECT id AS part_id, CAST(MIN(hops) AS INT) AS hops
FROM walk GROUP BY id
"""

ANALYTICS_QUERIES["part_bfs_hops"] = (q_part_bfs_hops, SQL_PART_BFS_HOPS)


# --- OHLC time-bucket resampling ---------------------------------------------


def q_event_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling: per (event_type, hour) bar over the events
    fact — open/close (first/last value by the total (ts, event_id)
    order) and high/low/volume.  The downsampling primitive every
    time-series store ships (candlesticks, sensor rollups, metric
    bars), expressed as ONE aggregate: min_by/max_by over the unique
    (ts, event_id) struct gives first/last WITHOUT a window — no sort,
    no per-key row_number pass, map-side combinable, one shuffle on
    the (type, bucket) key.  At 100 TB this is the difference between
    a partial-aggregated scan and a full fact sort.

    open/high/low/close are COPIES of stored doubles (no float
    arithmetic), so cross-engine hashes match exactly; the oracle uses
    the window/row_number formulation — the construction this
    aggregate replaces — as the independent twin.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
        "ts",
        "event_id",
        "value",
    )
    key = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("event_type", "bucket").agg(
        F.min_by("value", key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", key).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_EVENT_OHLC_BARS = """
-- Independent formulation: the window/row_number first/last the
-- engine's min_by/max_by aggregate replaces.
WITH e AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, bucket,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       COUNT(*) AS n_events
FROM e GROUP BY event_type, bucket
"""

ANALYTICS_QUERIES["event_ohlc_bars"] = (q_event_ohlc_bars, SQL_EVENT_OHLC_BARS)


# --- Hilbert-curve clustering audit ------------------------------------------


def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering audit (operators/layout.py
    hilbert_key) — the same 64-file skipping-bounds report as
    zorder_layout but on the Hilbert index, so the two queries TOGETHER
    show the layout trade Iceberg's OPTIMIZE exposes: Hilbert's
    unit-step walk (no Morton seam jumps) yields tighter per-file
    rectangles in (px, sx) than the Z-order buckets over the identical
    coordinates.  Pure codegen'd automaton arithmetic — one
    element_at per bit level on a literal array, no UDF, no join (see
    hilbert_key's docstring for why the textbook mutating formulation
    can't be unrolled directly); the oracle replays the identical
    automaton via chained subqueries (hilbert_key_sql), while the
    automaton itself is pinned against the independent textbook
    xy2d loop over the full 16-bit domain in pytest.
    """
    from .operators.layout import hilbert_key

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("px"),
        (F.col("l_suppkey") % 256).alias("sx"),
    )
    h = li.withColumn("hkey", hilbert_key("px", "sx", bits=8))
    return (
        h.groupBy(F.shiftright("hkey", 10).alias("hbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("px").alias("px_min"),
            F.max("px").alias("px_max"),
            F.min("sx").alias("sx_min"),
            F.max("sx").alias("sx_max"),
        )
    )


def _hilbert_layout_sql() -> str:
    from .operators.layout import hilbert_key_sql

    frag = hilbert_key_sql("px", "sx", bits=8, carry=["px", "sx"]).replace(
        "__HILBERT_BASE__",
        "(SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sx"
        " FROM lineitem) b",
    )
    return f"""
SELECT hkey >> 10 AS hbucket,
       COUNT(*) AS n_rows,
       MIN(px) AS px_min, MAX(px) AS px_max,
       MIN(sx) AS sx_min, MAX(sx) AS sx_max
FROM {frag} t
GROUP BY hbucket
"""


ANALYTICS_QUERIES["hilbert_layout"] = (q_hilbert_layout, _hilbert_layout_sql())


# --- space-filling-curve layout comparison ------------------------------------

_CURVE_FILES = 48  # deliberately NOT a power of 4: seam behavior shows


def q_layout_curve_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs Hilbert, measured: slice each curve's key order into
    {files} EQUAL-COUNT files (what a real clustered write produces —
    and deliberately not a power of 4, so file boundaries fall
    mid-quadrant) and report the summed and worst per-file bounding-box
    AREA in (px, sx).  Aligned 4^k buckets (zorder_layout /
    hilbert_layout) make the two curves look identical — both yield
    perfect subsquares; it is exactly the UNALIGNED splits of a real
    write where Morton's seam jumps fatten file boxes and Hilbert's
    unit-step walk keeps them tight.  This query turns that claim into
    four audited integers per layout.

    Scale notes: everything runs on the key-domain CELL table (one
    groupBy of the fact onto <= 2^16 cells), never the fact itself —
    same discipline as linear_file_bounds; the ordered windows run on
    the bounded cell table (the documented-bounded single-partition
    step).  Equal-count slicing uses the same integer rank->file-span
    math as linear_file_bounds (a cell straddling a boundary is
    charged to every file it occupies).
    """
    from .operators.layout import hilbert_key, zorder_key

    cells = (
        _t(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_partkey") % 256).alias("px"),
            (F.col("l_suppkey") % 256).alias("sx"),
        )
        .groupBy("px", "sx")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("zkey", zorder_key(["px", "sx"], bits=8))
        .withColumn("hkey", hilbert_key("px", "sx", bits=8))
    )
    total = cells.agg(F.sum("n").alias("total"))
    out = None
    for layout, key in (("zorder", "zkey"), ("hilbert", "hkey")):
        w = Window.orderBy(key).rowsBetween(Window.unboundedPreceding, 0)
        spans = (
            cells.withColumn("end_rank", F.sum("n").over(w))
            .withColumn("start_rank", F.col("end_rank") - F.col("n"))
            .crossJoin(F.broadcast(total))
            .select(
                "px",
                "sx",
                F.explode(
                    F.sequence(
                        F.expr(f"(start_rank * {_CURVE_FILES}) div total"),
                        F.expr(
                            f"((end_rank - 1) * {_CURVE_FILES}) div total"
                        ),
                    )
                ).alias("file_id"),
            )
        )
        areas = (
            spans.groupBy("file_id")
            .agg(
                (
                    (F.max("px") - F.min("px") + 1)
                    * (F.max("sx") - F.min("sx") + 1)
                ).cast("long").alias("area")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_files"),
                F.sum("area").cast("long").alias("total_area"),
                F.max("area").cast("long").alias("max_area"),
            )
            .select(F.lit(layout).alias("layout"), "n_files",
                    "total_area", "max_area")
        )
        out = areas if out is None else out.unionByName(areas)
    return out


q_layout_curve_compare.__doc__ = q_layout_curve_compare.__doc__.format(
    files=_CURVE_FILES
)


def _layout_curve_compare_sql() -> str:
    from .operators.layout import hilbert_key_sql, zorder_key_sql

    z = zorder_key_sql(["px", "sx"], bits=8)
    hfrag = hilbert_key_sql("px", "sx", bits=8, carry=["px", "sx", "n"])
    per_layout = []
    for layout, key in (("zorder", "zkey"), ("hilbert", "hkey")):
        per_layout.append(f"""
SELECT '{layout}' AS layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(area) AS BIGINT) AS total_area,
       CAST(MAX(area) AS BIGINT) AS max_area
FROM (
  SELECT file_id,
         (MAX(px) - MIN(px) + 1) * (MAX(sx) - MIN(sx) + 1) AS area
  FROM (
    SELECT px, sx,
           unnest(generate_series(
             CAST(((end_rank - n) * {_CURVE_FILES}) // total AS BIGINT),
             CAST(((end_rank - 1) * {_CURVE_FILES}) // total AS BIGINT)))
             AS file_id
    FROM (
      SELECT px, sx, n,
             SUM(n) OVER (ORDER BY {key} ROWS UNBOUNDED PRECEDING)
               AS end_rank
      FROM keyed
    ), tot
  ) GROUP BY file_id
)""")
    union = " UNION ALL ".join(per_layout)
    return f"""
WITH cells AS (
  SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sx,
         COUNT(*) AS n
  FROM lineitem GROUP BY 1, 2
),
hk AS (SELECT px, sx, n, hkey
       FROM {hfrag.replace("__HILBERT_BASE__", "cells")} t),
keyed AS (
  SELECT hk.px, hk.sx, hk.n, hk.hkey,
         ({z.replace("px", "hk.px").replace("sx", "hk.sx")}) AS zkey
  FROM hk
),
tot AS (SELECT SUM(n) AS total FROM keyed)
{union}
"""


ANALYTICS_QUERIES["layout_curve_compare"] = (
    q_layout_curve_compare,
    _layout_curve_compare_sql(),
)


# --- bounded weighted shortest path ------------------------------------------


def q_part_affinity_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (operators/graph.py min_cost_bounded):
    cheapest <=3-edge route from the 3 lowest-keyed parts to every
    part, where an edge between co-purchased parts costs
    ``10^6 div shared_orders`` — strong affinities are cheap, so the
    route cost is a graded "how related" score (the recommendation /
    substitution-distance signal) where part_bfs_hops only counts
    links and part_pagerank only ranks global centrality.

    Edge weights build from the SAME one-shuffle in-row pair expansion
    as the other co-purchase queries, then one (u, v) count aggregate;
    costs are integers, so 3 rounds of integer min/+ relaxation are
    partitioning- and engine-exact, replayed round-for-round by the
    oracle (the fixed-unroll pagerank pattern — see min_cost_bounded's
    docstring for why the hop bound is the contract, not a heuristic).
    """
    from .operators.graph import min_cost_bounded

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x -> "
                    "transform(ps, y -> struct(x AS src, y AS dst))))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst"))
    )
    weighted = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("shared")
    ).select(
        "src", "dst", F.expr("1000000 div shared").alias("w")
    )
    seeds = li.select("l_partkey").distinct().orderBy("l_partkey").limit(3)
    dist = min_cost_bounded(
        weighted, seeds, rounds=3, src="src", dst="dst", weight="w"
    )
    return dist.select(
        F.col("id").alias("part_id"), F.col("cost").alias("min_cost")
    )


SQL_PART_AFFINITY_ROUTE = """
-- Replays the 3 relaxation rounds exactly: integer min/+ is
-- associative, so round-for-round equality is the correctness
-- statement (same fixed-unroll pattern as the PageRank oracle).
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
costs AS MATERIALIZED (
  -- COUNT(DISTINCT orderkey): a part on several LINES of one order
  -- still contributes that order once (the engine's per-order
  -- collect_set has the same semantics by construction)
  SELECT a.l_partkey AS u, b.l_partkey AS v,
         1000000 // COUNT(DISTINCT a.l_orderkey) AS w
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
seeds AS (SELECT DISTINCT l_partkey AS id FROM li ORDER BY 1 LIMIT 3),
d0 AS (SELECT id, CAST(0 AS BIGINT) AS cost FROM seeds),
r1 AS (
  SELECT id, MIN(cost) AS cost FROM (
    SELECT id, cost FROM d0
    UNION ALL
    SELECT c.v AS id, d0.cost + c.w AS cost
    FROM d0 JOIN costs c ON c.u = d0.id
  ) GROUP BY id
),
r2 AS (
  SELECT id, MIN(cost) AS cost FROM (
    SELECT id, cost FROM r1
    UNION ALL
    SELECT c.v AS id, r1.cost + c.w AS cost
    FROM r1 JOIN costs c ON c.u = r1.id
  ) GROUP BY id
),
r3 AS (
  SELECT id, MIN(cost) AS cost FROM (
    SELECT id, cost FROM r2
    UNION ALL
    SELECT c.v AS id, r2.cost + c.w AS cost
    FROM r2 JOIN costs c ON c.u = r2.id
  ) GROUP BY id
)
SELECT id AS part_id, cost AS min_cost FROM r3
"""

ANALYTICS_QUERIES["part_affinity_route"] = (
    q_part_affinity_route,
    SQL_PART_AFFINITY_ROUTE,
)


# --- streaming OHLC bars (mergeable first/last under micro-batching) ---------


def q_streaming_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars AT INGEST RATE: events arrive in >= 2 file-source
    micro-batches, each batch emits PARTIAL bars per (event_type,
    hour) through the scale-safe per-batch parquet sink, and the final
    bars merge the partials — proving the non-obvious part of OHLC
    mergeability: high/low/volume merge by max/min/sum, but
    open/close only merge because each partial CARRIES ITS EVIDENCE
    (the (ts, event_id) key its open/close came from), so the merge
    re-runs min_by/max_by over partial rows instead of rows.  A bucket
    whose events straddle the batch boundary leaves two partials whose
    merge IS the property, exercised under real micro-batching.

    Shares event_ohlc_bars' oracle: per-row bucketing is
    batch-independent and keyed min_by/max_by is associative, so the
    streamed result must equal the one-shot aggregate bit-for-bit —
    the hash-match is the batching-invariance statement (the
    streaming_sketch_rollup contract, extended from commutative sums
    to keyed first/last).
    """
    import os
    import tempfile

    from .streaming.incremental import (
        read_batch_sink,
        sink_foreach_batch,
        stream_file_source,
    )

    # stage only the 4 columns the bars need (pruning the wide props
    # string out of the arrival files halves the staged IO)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="c360_stream_ohlc_")
    arrivals = os.path.join(tmp, "arrivals")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(arrivals)
    ev.filter(F.col("event_id") % 2 != 0).coalesce(1).write.mode(
        "append"
    ).parquet(arrivals)
    stream = stream_file_source(
        spark, arrivals, ev.schema, max_files_per_trigger=1
    )
    sink = os.path.join(tmp, "bars")

    def partial_bars(batch_df: DataFrame) -> DataFrame:
        rows = batch_df.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "value",
        )
        key = F.struct(F.col("ts_us"), F.col("event_id"))
        return rows.groupBy("event_type", "bucket").agg(
            F.min_by("value", key).alias("open"),
            F.min(key).alias("open_key"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.max(key).alias("close_key"),
            F.count(F.lit(1)).alias("n_events"),
        )

    sink_foreach_batch(stream, os.path.join(tmp, "ckpt"), sink, partial_bars)
    partials = read_batch_sink(spark, sink)
    return partials.groupBy("event_type", "bucket").agg(
        F.min_by("open", F.col("open_key")).alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", F.col("close_key")).alias("close"),
        F.sum("n_events").alias("n_events"),
    )


ANALYTICS_QUERIES["streaming_ohlc_bars"] = (
    q_streaming_ohlc_bars,
    SQL_EVENT_OHLC_BARS,
)


# --- persisted graph index: one build, many probes ---------------------------


def q_part_graph_route_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-graph form of the co-purchase analytics — built
    because profiling showed the iterative graph queries are dominated
    by re-materializing the edge list, not by their rounds (sf1: 66 s
    build vs 2-3 s per relaxation round).  Build phase: derive the
    weighted symmetric co-purchase graph ONCE and persist it
    Hive-bucketed by vertex (operators/graph.py write_graph_index —
    the graph sibling of the MinHash/IVF index lifecycle), exercising
    the FULL lifecycle: the initial write takes the edges whose
    src+dst parity is even, then the odd half is APPENDED (bucketed
    tables append per-bucket files — the daily-growth path), so the
    probes read an index that was built AND grown (VERDICT r8 item 8).
    Edge rows are keyed by (src, dst) and the two halves partition
    that key space, so the appended table's CONTENT is identical to a
    one-shot write — which is exactly what the oracle's bit-equality
    asserts.  Probe phase: run BOTH bfs_hops (<=4 hops) and
    min_cost_bounded (<=3 edges, cost 10^6 div shared_orders) straight
    off the standing table — no localCheckpoint re-copy, O(1)-lineage
    scans — and return them joined per part (hops, min_cost; a part
    reachable in 4 hops but not 3 edges carries a NULL cost,
    exercising the outer join both engines must agree on).

    Oracle = the two probes' independent formulations (recursive-CTE
    walk closure; 3 unrolled relaxation rounds) FULL-OUTER-joined —
    bit-equality of the combined table is the statement that probing a
    persisted, appended index changes nothing.

    The index name carries the sf_dir basename (ADVICE r8): the
    overwrite path sweeps the table's warehouse directory, so a fixed
    name would let two sessions sharing a warehouse at DIFFERENT scale
    factors clobber each other mid-probe.  Same-name writers (same
    warehouse, same SF) remain single-writer, like every persisted
    index here.
    """
    from .operators.graph import (
        bfs_hops,
        min_cost_bounded,
        read_graph_index,
        write_graph_index,
    )
    from .operators.util import sf_tag
    from .phases import phase

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    name = f"q_copurchase_idx_{sf_tag(sf_dir)}"
    with phase("build"):
        weighted = (
            li.groupBy("l_orderkey")
            .agg(F.collect_set("l_partkey").alias("ps"))
            .select(
                F.explode(
                    F.expr(
                        "flatten(transform(ps, x -> "
                        "transform(ps, y -> struct(x AS src, y AS dst))))"
                    )
                ).alias("p")
            )
            .select("p.src", "p.dst")
            .filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("shared"))
            .select(
                "src", "dst", F.expr("1000000 div shared").alias("w")
            )
        )
        # the expensive co-purchase aggregation feeds BOTH halves of the
        # build+append lifecycle; persist so the append re-reads blocks,
        # not the whole clique expansion
        from pyspark import StorageLevel

        weighted = weighted.persist(StorageLevel.DISK_ONLY)
        half = (F.col("src") + F.col("dst")) % 2 == 0
        write_graph_index(
            weighted.filter(half), name, src="src", dst="dst", weight="w",
            num_buckets=8,
        )
        write_graph_index(
            weighted.filter(~half), name, src="src", dst="dst", weight="w",
            num_buckets=8, mode="append",
        )
        weighted.unpersist()
    # Both probes walk the SAME standing edge table 7 rounds total
    # (4 BFS frontier expansions + 3 relaxations), each round a
    # broadcast-frontier map-side pass over the edges — persist the
    # table across the two probes so rounds 2..7 read cached blocks
    # instead of re-scanning parquet (measured at sf0.1: bfs 3.5->1.7s,
    # min_cost 3.7->1.5s warm, NOTES_r10). Safe to unpersist before
    # returning: both probes eagerly localCheckpoint per round, so the
    # returned join reads only checkpoint blocks.
    edges = read_graph_index(spark, name).persist()
    seeds = li.select("l_partkey").distinct().orderBy("l_partkey").limit(3)
    # The two probe phases are individually attributed (both algorithms
    # execute eagerly inside their constructors via per-round counts),
    # so the bench artifact can show that "probe" cost is 7 rounds of
    # genuinely iterative graph work, not index-scan overhead.
    with phase("probe_bfs"):
        hops = bfs_hops(
            edges, seeds, max_hops=4, src="u", dst="v",
            assume_symmetric=True, dedup_edges=False, materialized=True,
        ).select(
            F.col("id").alias("part_id"),
            F.col("hops").cast("int").alias("hops"),
        )
    with phase("probe_route"):
        route = min_cost_bounded(
            edges, seeds, rounds=3, materialized=True
        ).select(F.col("id").alias("part_id"), F.col("cost").alias("min_cost"))
    edges.unpersist()
    return hops.join(route, "part_id", "full_outer")


SQL_PART_GRAPH_ROUTE_INDEXED = """
-- Both probes' independent oracle formulations over the same graph,
-- FULL-OUTER-joined per part: equality proves the persisted-index
-- probes change nothing.
WITH RECURSIVE li AS (SELECT l_orderkey, l_partkey FROM lineitem),
costs AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v,
         1000000 // COUNT(DISTINCT a.l_orderkey) AS w
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
seeds AS (SELECT DISTINCT l_partkey AS id FROM li ORDER BY 1 LIMIT 3),
walk AS (
  SELECT id, 0 AS hops FROM seeds
  UNION
  SELECT c.v AS id, w.hops + 1 AS hops
  FROM walk w JOIN costs c ON c.u = w.id
  WHERE w.hops < 4
),
hops AS (
  SELECT id AS part_id, CAST(MIN(hops) AS INT) AS hops
  FROM walk GROUP BY id
),
d0 AS (SELECT id, CAST(0 AS BIGINT) AS cost FROM seeds),
r1 AS (
  SELECT id, MIN(cost) AS cost FROM (
    SELECT id, cost FROM d0
    UNION ALL
    SELECT c.v AS id, d0.cost + c.w AS cost
    FROM d0 JOIN costs c ON c.u = d0.id
  ) GROUP BY id
),
r2 AS (
  SELECT id, MIN(cost) AS cost FROM (
    SELECT id, cost FROM r1
    UNION ALL
    SELECT c.v AS id, r1.cost + c.w AS cost
    FROM r1 JOIN costs c ON c.u = r1.id
  ) GROUP BY id
),
r3 AS (
  SELECT id, MIN(cost) AS cost FROM (
    SELECT id, cost FROM r2
    UNION ALL
    SELECT c.v AS id, r2.cost + c.w AS cost
    FROM r2 JOIN costs c ON c.u = r2.id
  ) GROUP BY id
)
SELECT COALESCE(h.part_id, r3.id) AS part_id, h.hops,
       r3.cost AS min_cost
FROM hops h FULL JOIN r3 ON r3.id = h.part_id
"""

ANALYTICS_QUERIES["part_graph_route_indexed"] = (
    q_part_graph_route_indexed,
    SQL_PART_GRAPH_ROUTE_INDEXED,
)


# --- Holt linear forecasting (integer fixed point) ---------------------------


def q_revenue_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double-exponential) smoothing [Holt 1957] over the
    monthly revenue series, made ENGINE-EXACT: alpha = beta = 1/2 turns
    both updates into integer halvings —

        level_t = fdiv2(y_t + level_{t-1} + trend_{t-1})
        trend_t = fdiv2(trend_{t-1} + level_t - level_{t-1})

    with ``fdiv2(x) = (x - (x & 1)) div 2`` — subtracting the parity
    bit makes the operand EVEN, so the division is exact and the
    truncate-vs-floor divergence between engines on NEGATIVE values
    (trends go negative on declining months) never arises.  Init
    level_1 = y_1, trend_1 = 0 (no future leak).  Per month the output
    carries the state and ``forecast_next = level + trend`` — the
    1-step-ahead prediction, so the last row is the out-of-sample
    forecast and every other row is the backtest column.  This is the
    forecasting companion to revenue_cusum (drift), seasonal_decomp
    (structure), and revenue_backtest (evaluation).

    Scale shape: one day->month aggregate collapses the fact table to
    the calendar-bounded series; the spine zero-fills gap months (lag
    semantics stay calendar-true); the fold runs IN-ROW over month
    prefixes (O(T^2) at T ~ tens — the customer_survival pattern).
    The oracle replays the recursion via a recursive CTE — an
    independent formulation of the same integer walk.
    """
    o = _t(spark, sf_dir, "orders").select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
        money_cents(F.col("o_totalprice")).alias("cents"),
    )
    monthly = o.groupBy("m").agg(F.sum("cents").cast("long").alias("rev"))
    bounds = monthly.agg(
        F.min("m").alias("lo"), F.max("m").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("m")
    )
    series = (
        spine.join(monthly, "m", "left")
        .withColumn("rev", F.coalesce("rev", F.lit(0)).cast("long"))
    )
    arr = series.agg(
        F.array_sort(
            F.collect_list(F.struct("m", "rev"))
        ).alias("ms")
    )
    # fold: acc = (level, trend); fdiv2 via parity subtraction
    step = (
        "(acc, x) -> named_struct("
        "'l', ((x.rev + acc.l + acc.b) - ((x.rev + acc.l + acc.b) & 1))"
        " div 2, "
        "'b', ((acc.b + (((x.rev + acc.l + acc.b)"
        " - ((x.rev + acc.l + acc.b) & 1)) div 2) - acc.l)"
        " - ((acc.b + (((x.rev + acc.l + acc.b)"
        " - ((x.rev + acc.l + acc.b) & 1)) div 2) - acc.l) & 1)) div 2)"
    )
    return arr.select(
        F.explode(
            F.expr(
                f"""transform(ms, (x, i) -> struct(
                      x.m AS m,
                      x.rev AS rev_cents,
                      aggregate(slice(ms, 2, i),
                                named_struct('l', ms[0].rev,
                                             'b', CAST(0 AS BIGINT)),
                                {step}).l AS level_cents,
                      aggregate(slice(ms, 2, i),
                                named_struct('l', ms[0].rev,
                                             'b', CAST(0 AS BIGINT)),
                                {step}).b AS trend_cents))"""
            )
        ).alias("r")
    ).select(
        "r.m",
        "r.rev_cents",
        "r.level_cents",
        "r.trend_cents",
        (F.col("r.level_cents") + F.col("r.trend_cents")).alias(
            "forecast_next_cents"
        ),
    )


SQL_REVENUE_HOLT_FORECAST = """
-- Replays the integer Holt walk as a recursive CTE — the sequential
-- formulation of the in-row fold the engine runs (same fdiv2 parity
-- trick, so engine floor/truncate semantics cannot diverge).
WITH RECURSIVE monthly AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY 1
),
b AS (SELECT MIN(m) AS lo, MAX(m) AS hi FROM monthly),
spine AS (
  SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b)))
    AS m
),
series AS (
  SELECT spine.m, CAST(COALESCE(monthly.rev, 0) AS BIGINT) AS rev,
         ROW_NUMBER() OVER (ORDER BY spine.m) AS i
  FROM spine LEFT JOIN monthly ON monthly.m = spine.m
),
walk AS (
  SELECT m, rev, i, rev AS l, CAST(0 AS BIGINT) AS b
  FROM series WHERE i = 1
  UNION ALL
  SELECT s.m, s.rev, s.i,
         ((s.rev + w.l + w.b) - ((s.rev + w.l + w.b) & 1)) // 2 AS l,
         ((w.b + ((s.rev + w.l + w.b) - ((s.rev + w.l + w.b) & 1)) // 2
           - w.l)
          - ((w.b + ((s.rev + w.l + w.b) - ((s.rev + w.l + w.b) & 1)) // 2
              - w.l) & 1)) // 2 AS b
  FROM walk w JOIN series s ON s.i = w.i + 1
)
SELECT m, rev AS rev_cents, l AS level_cents, b AS trend_cents,
       l + b AS forecast_next_cents
FROM walk
"""

ANALYTICS_QUERIES["revenue_holt_forecast"] = (
    q_revenue_holt_forecast,
    SQL_REVENUE_HOLT_FORECAST,
)


# --- weighted PageRank over co-purchase affinity -----------------------------


def q_part_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (operators/graph.py pagerank_weighted): rank
    flows proportional to co-purchase AFFINITY (shared-order count)
    instead of uniformly — a part tightly bundled with central parts
    outranks one with many weak links, which is the product-affinity
    ranking a uniform walk flattens (part_pagerank ranks the same
    graph unweighted; the pair isolates exactly what weighting adds).

    Same one-shuffle edge build + (u, v) distinct-order weight
    aggregate as part_affinity_route; 3 integer fixed-point rounds,
    ``(r * w) div W_u`` with the product BEFORE the division (the
    precise order — see the operator's overflow contract).  The
    oracle unrolls the identical rounds.
    """
    from .operators.graph import pagerank_weighted

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    weighted = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x -> "
                    "transform(ps, y -> struct(x AS src, y AS dst))))"
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    ranks = pagerank_weighted(
        weighted, src="src", dst="dst", weight="w",
        iterations=3, damping_pct=85,
    )
    return ranks.select(F.col("id").alias("part_id"), "rank_fp")


SQL_PART_PAGERANK_WEIGHTED = """
-- Unrolls the weighted recurrence exactly:
-- r' = base + (85 * SUM_{u->v} ((r(u) * w_uv) // W_u)) // 100
WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
pairs AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v,
         CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS w
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
),
verts AS (SELECT u AS id FROM pairs UNION SELECT v FROM pairs),
nn AS (SELECT COUNT(*) AS n FROM verts),
c0 AS (SELECT CAST(1000000000000 // n AS BIGINT) AS init,
              CAST((15 * (1000000000000 // n)) // 100 AS BIGINT) AS base
       FROM nn),
ws AS (SELECT u, CAST(SUM(w) AS BIGINT) AS wsum FROM pairs GROUP BY u),
r0 AS (SELECT id, (SELECT init FROM c0) AS r FROM verts),
m1 AS (SELECT p.v AS id, SUM((r0.r * p.w) // d.wsum) AS s
       FROM pairs p JOIN r0 ON r0.id = p.u JOIN ws d ON d.u = p.u
       GROUP BY p.v),
r1 AS (SELECT verts.id,
              CAST((SELECT base FROM c0)
                   + (85 * COALESCE(m1.s, 0)) // 100 AS BIGINT) AS r
       FROM verts LEFT JOIN m1 ON m1.id = verts.id),
m2 AS (SELECT p.v AS id, SUM((r1.r * p.w) // d.wsum) AS s
       FROM pairs p JOIN r1 ON r1.id = p.u JOIN ws d ON d.u = p.u
       GROUP BY p.v),
r2 AS (SELECT verts.id,
              CAST((SELECT base FROM c0)
                   + (85 * COALESCE(m2.s, 0)) // 100 AS BIGINT) AS r
       FROM verts LEFT JOIN m2 ON m2.id = verts.id),
m3 AS (SELECT p.v AS id, SUM((r2.r * p.w) // d.wsum) AS s
       FROM pairs p JOIN r2 ON r2.id = p.u JOIN ws d ON d.u = p.u
       GROUP BY p.v),
r3 AS (SELECT verts.id,
              CAST((SELECT base FROM c0)
                   + (85 * COALESCE(m3.s, 0)) // 100 AS BIGINT) AS r
       FROM verts LEFT JOIN m3 ON m3.id = verts.id)
SELECT id AS part_id, r AS rank_fp FROM r3
"""

ANALYTICS_QUERIES["part_pagerank_weighted"] = (
    q_part_pagerank_weighted,
    SQL_PART_PAGERANK_WEIGHTED,
)


# --- streaming stateful Holt forecast ----------------------------------------


def q_streaming_holt_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key forecasting state ACROSS micro-batches
    (streaming/stateful.py stateful_holt): events arrive in two
    DAY-SPLIT files (first half of the calendar, then the rest —
    mtimes pinned so the file source folds them in day order, the
    exactly-once query's discipline), and applyInPandasWithState
    maintains each event_type's integer Holt(1/2, 1/2) (level, trend)
    through the stream — the state machine session_window cannot
    carry, and the streaming twin of revenue_holt_forecast's in-row
    fold.  The final state per key is the fold of the fully-arrived
    daily series, so the batch-replaying oracle applies EXACTLY —
    hash-match = cross-batch state-carry correctness.  Out-of-order
    or day-straddling delivery RAISES in the operator (contract, not
    silent refold).

    State: 4 scalars per key.  Python work per key per batch: one
    vectorized groupby-sum + an O(new days) integer fold.
    """
    import os
    import tempfile

    from .streaming.incremental import run_incremental
    from .streaming.stateful import stateful_holt

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("day"),
        money_cents(F.col("value")).alias("cents"),
    )
    lohi = ev.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).collect()[0]
    mid = (int(lohi["lo"]) + int(lohi["hi"])) // 2
    tmp = tempfile.mkdtemp(prefix="c360_stream_holt_")
    arrivals = os.path.join(tmp, "arrivals")
    # pin strictly increasing mtimes AFTER EACH WRITE (part-file names
    # are uuids — name order is NOT write order): the file source
    # orders batches by modification time, and the fold contract
    # requires day order
    seen: set[str] = set()
    for k, cond in enumerate(
        (F.col("day") <= mid, F.col("day") > mid)
    ):
        ev.filter(cond).coalesce(1).write.mode("append").parquet(arrivals)
        for f in os.listdir(arrivals):
            if f.endswith(".parquet") and f not in seen:
                seen.add(f)
                os.utime(
                    os.path.join(arrivals, f),
                    (1_000_000 + k, 1_000_000 + k),
                )
    stream = (
        spark.readStream.format("parquet")
        .schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .load(arrivals)
    )
    holt = stateful_holt(stream, "event_type", "day", "cents")
    name = f"stream_holt_{os.path.basename(tmp).split('_')[-1]}"
    # Measured: state_partitions=4 is a no-op here (2.62 vs 2.56 s
    # min-of-3 at sf0.1) — cost is the arrival-file setup plus two
    # sequential micro-batches, not per-partition state overhead.
    run_incremental(
        holt, os.path.join(tmp, "ckpt"), name, mode="append"
    )
    final = (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.max_by(
                F.struct("n_days", "level_cents", "trend_cents"),
                F.col("through_day"),
            ).alias("s")
        )
    )
    return final.select(
        "event_type",
        F.col("s.n_days").alias("n_days"),
        F.col("s.level_cents").alias("level_cents"),
        F.col("s.trend_cents").alias("trend_cents"),
        (F.col("s.level_cents") + F.col("s.trend_cents")).alias(
            "forecast_next_cents"
        ),
    )


SQL_STREAMING_HOLT_BY_TYPE = """
-- Replays the fully-arrived per-type walk (the batch formulation the
-- streaming state must equal): daily sums in day order, recursive
-- integer Holt with the parity-exact halving, final row per type.
WITH RECURSIVE daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT event_type, day, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
),
walk AS (
  SELECT event_type, i, cents AS l, CAST(0 AS BIGINT) AS b
  FROM series WHERE i = 1
  UNION ALL
  SELECT s.event_type, s.i,
         ((s.cents + w.l + w.b) - ((s.cents + w.l + w.b) & 1)) // 2
           AS l,
         ((w.b + ((s.cents + w.l + w.b)
                  - ((s.cents + w.l + w.b) & 1)) // 2 - w.l)
          - ((w.b + ((s.cents + w.l + w.b)
                     - ((s.cents + w.l + w.b) & 1)) // 2 - w.l) & 1))
         // 2 AS b
  FROM walk w JOIN series s
    ON s.event_type = w.event_type AND s.i = w.i + 1
),
fin AS (SELECT event_type, MAX(i) AS mi FROM walk GROUP BY 1)
SELECT w.event_type, CAST(w.i AS BIGINT) AS n_days,
       w.l AS level_cents, w.b AS trend_cents,
       w.l + w.b AS forecast_next_cents
FROM walk w JOIN fin
  ON fin.event_type = w.event_type AND fin.mi = w.i
"""

ANALYTICS_QUERIES["streaming_holt_by_type"] = (
    q_streaming_holt_by_type,
    SQL_STREAMING_HOLT_BY_TYPE,
)
