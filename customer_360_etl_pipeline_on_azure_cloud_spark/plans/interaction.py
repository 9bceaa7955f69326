"""Interaction-feature pipeline — the reference's first half
(reference ETL_pipeline.py:235-294, §3.1 of SURVEY.md), as one declarative
composition over the engine's operators.

Input: a `log_content`-shaped DataFrame with columns
``Contract, Mac, AppName, TotalDuration, Date``.
Output: one row per Contract with the 11 interaction feature columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import (
    argmax_label,
    bucketize,
    conditional_concat,
    recode,
    row_sum,
)
from ..operators.aggregates import two_pass_segment

#: AppName -> viewing category (reference ETL_pipeline.py:64-72).
APP_CATEGORY = {
    "CHANNEL": "Truyen_hinh",
    "DSHD": "Truyen_hinh",
    "KPLUS": "Truyen_hinh",
    "VOD": "Phim_truyen",
    "FIMS": "Phim_truyen",
    "SPORT": "The_thao",
    "RELAX": "Giai_tri",
    "CHILD": "Thieu_nhi",
}

#: Fixed category order — load-bearing for MostWatch tie-breaks and
#: CustomerTaste ordering (reference ETL_pipeline.py:90-95,100-106).
CATEGORIES = ("Truyen_hinh", "Phim_truyen", "The_thao", "Giai_tri", "Thieu_nhi")

#: Days-active -> Activeness buckets (reference ETL_pipeline.py:52-57).
ACTIVENESS_BUCKETS = (
    (1, 7, "very low"),
    (8, 14, "low"),
    (15, 21, "moderate"),
    (22, 28, "high"),
    (29, 31, "very high"),
)


def customer_type_case(cutoffs: list[float]):
    """CustomerType CASE over (Activeness, TotalDuration) given
    [Q1, median, Q3] (reference ETL_pipeline.py:135-143)."""
    q1, median, _q3 = cutoffs
    a, d = F.col("Activeness"), F.col("TotalDuration")
    return (
        F.when((a == "very low") & (d < q1), "leaving")
        .when((a == "low") & (d < median), "need attention")
        .when((a == "moderate") & (d < median), "normal")
        .when((a == "moderate") & (d >= median), "potential")
        .when((a == "high") & (d > q1), "loyal")
        .when((a == "very high") & (d > q1), "VIP")
        .otherwise("anomaly")
    )


def interaction_features(
    log_content: DataFrame,
    exact_quantiles: bool = True,
    quantile_accuracy: int = 10000,
) -> DataFrame:
    """Full §3.1 pipeline: devices + activeness + category pivot +
    MostWatch + CustomerTaste + CustomerType.

    Plan shape at scale: one scan of ``log_content`` and one hash
    aggregate on ``Contract`` that yields all three features, with no
    join. Its two exact distinct counts (Mac, Date) make Spark plan an
    Expand, which emits each row once per distinct count and once for
    the category sums, ahead of the aggregate's two shuffles. The
    customer-grain result (one row per customer) is checkpointed once,
    so the quantile pass and the caller's sink both read it instead of
    the source.

    The reference joins three per-Contract tables with inner joins
    (ETL_pipeline.py:285-286); the two filters after the aggregate keep
    exactly the customers those joins keep: some row with a viewing
    category, and an Activeness bucket other than 'error'.
    """
    type_ = recode("AppName", APP_CATEGORY)
    customers = (
        log_content.filter(F.col("Contract") != "0")
        .groupBy("Contract")
        .agg(
            F.countDistinct("Mac").alias("TotalDevices"),
            F.countDistinct("Date").alias("Days_Active"),
            *[
                F.coalesce(
                    F.sum(F.when(type_ == c, F.col("TotalDuration"))), F.lit(0)
                ).alias(c)
                for c in CATEGORIES
            ],
            F.max(type_ != "error").alias("categorized"),
        )
        .withColumn("Activeness", bucketize("Days_Active", ACTIVENESS_BUCKETS))
        .filter(F.col("categorized") & (F.col("Activeness") != "error"))
        .select(
            "Contract",
            *[F.col(c).alias(f"Total_{c}") for c in CATEGORIES],
            "TotalDevices",
            argmax_label([(c, c) for c in CATEGORIES]).alias("MostWatch"),
            conditional_concat("-", [(c, c) for c in CATEGORIES]).alias(
                "CustomerTaste"
            ),
            "Activeness",
            row_sum(*CATEGORIES).alias("TotalDuration"),
        )
        .localCheckpoint(eager=True)
    )
    return two_pass_segment(
        customers,
        "TotalDuration",
        customer_type_case,
        exact=exact_quantiles,
        accuracy=quantile_accuracy,
        alias="CustomerType",
    ).drop("TotalDuration")
