"""Merge + load — the reference's third stage (reference
ETL_pipeline.py:355-366; SURVEY.md §3.3).

The reference pairs the two feature tables POSITIONALLY via
``monotonically_increasing_id`` on two independently-truncated, unordered
250-row frames — a non-deterministic, semantically meaningless zip
(SURVEY.md §0.1). The engine offers both a keyed merge (the join the
README *claims*, on the customer key) and a well-defined positional zip.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame

from ..operators.joins import positional_zip


def merge_feature_tables(
    left: DataFrame,
    right: DataFrame,
    on: str | Iterable[str] | None = None,
    how: str = "inner",
    zip_order: tuple | None = None,
) -> DataFrame:
    """Merge two feature tables.

    * ``on=...`` — keyed equi-join (the correct semantics).
    * ``on=None, zip_order=(left_order_cols, right_order_cols)`` —
      deterministic positional zip for reference-compat output shape.
    """
    if on is not None:
        return left.join(right, on=on, how=how)
    if zip_order is None:
        raise ValueError("merge_feature_tables: need a key or an explicit zip order")
    left_order, right_order = zip_order
    return positional_zip(left, right, left_order, right_order, how=how)
