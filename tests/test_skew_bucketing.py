"""Tests for skew salting and bucketed co-located joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from customer_360_etl_pipeline_on_azure_cloud_spark.operators.index import (
    reset_tables,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.skew import (
    bucketed_join,
    salted_join,
    write_bucketed,
)


def test_salted_join_matches_plain_join(spark):
    # skewed left: key 'hot' holds 90% of rows
    left = spark.createDataFrame(
        [("hot", i) for i in range(900)] + [("cold", i) for i in range(100)],
        ["k", "v"],
    )
    right = spark.createDataFrame([("hot", "H"), ("cold", "C")], ["k", "tag"])
    plain = spark.createDataFrame(
        sorted(map(tuple, left.join(right, "k").collect())),
        ["k", "v", "tag"],
    )
    salted = salted_join(left, right, on="k", salt=8)
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_is_deterministic(spark):
    left = spark.createDataFrame([("hot", i) for i in range(200)], ["k", "v"])
    right = spark.createDataFrame([("hot", "H")], ["k", "tag"])
    a = sorted(map(tuple, salted_join(left, right, "k", salt=4).collect()))
    b = sorted(map(tuple, salted_join(left, right, "k", salt=4).collect()))
    assert a == b


def test_salted_join_spreads_hot_key(spark):
    left = spark.createDataFrame([("hot", i) for i in range(1000)], ["k", "v"])
    lcols = [F.col(c) for c in left.columns]
    salts = (
        left.withColumn("__salt", F.pmod(F.xxhash64(*lcols), F.lit(8)).cast("int"))
        .groupBy("__salt")
        .count()
        .collect()
    )
    counts = {r["__salt"]: r["count"] for r in salts}
    assert len(counts) == 8  # all sub-keys used
    assert max(counts.values()) < 1000 * 0.3  # no sub-key dominates


def test_bucketed_join_has_no_shuffle(spark):
    reset_tables(spark, "t_bleft", "t_bright")
    left = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("x")
    )
    right = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("y")
    )
    write_bucketed(left, "t_bleft", bucket_by="k", num_buckets=8, sort_by="k")
    write_bucketed(right, "t_bright", bucket_by="k", num_buckets=8, sort_by="k")
    # tiny test tables would be broadcast (which also disables bucketed
    # scans); force the sort-merge path a large fact-fact join would take
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "t_bleft", "t_bright", on="k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, (
            "bucketed join must not shuffle"
        )
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        for t in ("t_bleft", "t_bright"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
