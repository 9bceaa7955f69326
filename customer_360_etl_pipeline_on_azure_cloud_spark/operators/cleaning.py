"""Row-level cleaning operators (SURVEY.md §2.2 P1-P9)."""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import _col


def drop_sentinels(df: DataFrame, sentinels: Mapping[str, object]) -> DataFrame:
    """Drop rows where a column equals its invalid-sentinel value.

    Generalizes the reference's ``Contract != '0'`` / ``Type != 'error'``
    cleaning (reference ETL_pipeline.py:60,73-74). Expressed as filters so
    Catalyst pushes them into the scan (PushedFilters on parquet).
    """
    for col, sentinel in sentinels.items():
        df = df.filter(F.col(col) != F.lit(sentinel))
    return df


def dedup_deterministic(
    df: DataFrame,
    keys: Iterable[str],
    order_by: Iterable[Column | str],
) -> DataFrame:
    """Deduplicate on ``keys`` keeping the row that sorts FIRST on
    ``order_by`` — a deterministic replacement for
    ``dropDuplicates(subset)`` whose survivor is arbitrary
    (reference ETL_pipeline.py:302; SURVEY.md §0.1).

    Physical shape: one hash-partition shuffle on ``keys`` + in-partition
    sort (row_number), then filter. Scales linearly; skewed keys are
    handled by AQE skew-join/partition splitting.
    """
    keys = list(keys)
    order = [_col(c) for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
