"""Loaders for the driver testdata star schema (TESTDATA.md)."""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TESTDATA_TABLES
from ..session import tune


def _ensure_utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC before an NTZ->TIMESTAMP cast.

    The cast interprets NTZ wall-clock values in the *session* timezone,
    so it is instant-preserving only under UTC.  A driver-owned session
    that skipped ``session.RUNTIME_CONF`` could carry a host timezone and
    silently shift every event instant (ADVICE r4) — enforce it here at
    the choke-point rather than trusting callers.
    """
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
        warnings.warn(
            f"session timezone was {tz!r}; pinning to UTC so the "
            "TIMESTAMP_NTZ->TIMESTAMP event-time cast is instant-preserving",
            stacklevel=3,
        )
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; parquet scans get column pruning and
    predicate pushdown for free once the plan narrows them.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark has no native
    type for; with ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as
    long nanoseconds and is converted here to a microsecond timestamp
    (same truncation DuckDB applies when casting ns -> its us-precision
    timestamps, so both engines see identical instants).

    Spark 4.1 additionally infers tz-less parquet timestamps (physical
    ``timestamp[us]`` without ``isAdjustedToUTC``) as TIMESTAMP_NTZ, a
    type ``unix_micros`` / ``withWatermark`` reject.  With the session
    timezone pinned to UTC (session.RUNTIME_CONF) the NTZ->TIMESTAMP cast
    is instant-preserving, so every downstream query sees one canonical
    event-time type regardless of which Spark default produced the scan.
    """
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            _ensure_utc(spark)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """:func:`load_table` for the query modules, which all run on a
    session tuned with 32 shuffle partitions."""
    tune(spark, shuffle_partitions=32)
    return load_table(spark, sf_dir, name)


def event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Canonicalize an event-time column to TIMESTAMP (tz-aware).

    Single choke-point for time-type drift: any frame whose event-time
    column arrived as TIMESTAMP_NTZ (Spark 4.1 parquet inference) or long
    nanos is normalized here, so query bodies can assume ``TimestampType``.
    Lossless under the engine's pinned-UTC session timezone.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        _ensure_utc(df.sparkSession)
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}
