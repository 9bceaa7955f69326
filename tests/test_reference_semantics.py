"""Golden-row regression tests for the reference's derived-feature
semantics (SURVEY.md §2.12), on tiny hand-computed fixtures
(FIXTURES.md §A). Each test pins an exact behavior of the reference
pipeline — including the edge cases: MostWatch ties, single-token taste,
days>31 dropped, Contract='0' dropped, unmapped keyword -> NULL category
-> 'Changed'.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from customer_360_etl_pipeline_on_azure_cloud_spark.plans.interaction import (
    CATEGORIES,
    interaction_features,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.plans.merge import (
    merge_feature_tables,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.plans.search import (
    search_trends,
)


def d(day: int) -> dt.date:
    return dt.date(2022, 4, day)


@pytest.fixture(scope="module")
def log_content(spark):
    # Contract C1: 2 devices, 3 active days, CHANNEL+VOD viewing.
    # Contract C2: 1 device, 1 day, tie between The_thao and Giai_tri
    #   (MostWatch tiebreak -> The_thao, earlier in fixed order).
    # Contract C3: single category (CHILD only) -> taste = 'Thieu_nhi'.
    # Contract '0': sentinel, must be dropped from category stats.
    # Contract C4: only unknown AppName -> all rows recode to 'error',
    #   drops out of the pivot entirely (but keeps devices/activeness).
    rows = [
        ("C1", "m1", "CHANNEL", 100, d(1)),
        ("C1", "m2", "CHANNEL", 50, d(2)),
        ("C1", "m1", "VOD", 30, d(3)),
        ("C2", "m3", "SPORT", 70, d(1)),
        ("C2", "m3", "RELAX", 70, d(1)),
        ("C3", "m4", "CHILD", 40, d(1)),
        ("0", "m5", "CHANNEL", 999, d(1)),
        ("C4", "m6", "UNKNOWN_APP", 10, d(1)),
    ]
    return spark.createDataFrame(
        rows, ["Contract", "Mac", "AppName", "TotalDuration", "Date"]
    )


@pytest.fixture(scope="module")
def features(log_content):
    return {r["Contract"]: r.asDict() for r in interaction_features(log_content).collect()}


def test_total_devices(features):
    assert features["C1"]["TotalDevices"] == 2
    assert features["C2"]["TotalDevices"] == 1


def test_category_totals_pivot_fillna(features):
    c1 = features["C1"]
    assert c1["Total_Truyen_hinh"] == 150
    assert c1["Total_Phim_truyen"] == 30
    assert c1["Total_The_thao"] == 0  # fillna(0) on missing pivot cell


def test_sentinel_contract_dropped(features):
    assert "0" not in features


def test_error_only_contract_dropped_from_pivot(features):
    # C4's only row recodes to 'error' -> no category stats -> inner
    # joins drop it from the final table (reference join semantics,
    # ETL_pipeline.py:285-286).
    assert "C4" not in features


def test_most_watch_tiebreak_fixed_order(features):
    # C2: The_thao == Giai_tri == 70; fixed order prefers The_thao
    # (reference ETL_pipeline.py:90-95).
    assert features["C2"]["MostWatch"] == "The_thao"


def test_customer_taste_skips_zero_categories(features):
    assert features["C1"]["CustomerTaste"] == "Truyen_hinh-Phim_truyen"
    assert features["C3"]["CustomerTaste"] == "Thieu_nhi"


def test_activeness_buckets(features):
    assert features["C1"]["Activeness"] == "very low"  # 3 days
    assert features["C2"]["Activeness"] == "very low"  # 1 day


def test_customer_type_segmentation(features):
    # Row-sum durations: C1=180, C2=140, C3=40. Exact percentile
    # [.25,.5,.75] of (40,140,180) = (90, 140, 160).
    # All three contracts are 'very low' active:
    #   C3: 40 < Q1=90 -> leaving; C1: 180 >= Q1 -> anomaly;
    #   C2: 140 >= Q1 -> anomaly (reference CASE, ETL_pipeline.py:136-142).
    assert features["C3"]["CustomerType"] == "leaving"
    assert features["C1"]["CustomerType"] == "anomaly"
    assert features["C2"]["CustomerType"] == "anomaly"


def test_activeness_over_31_days_is_error_and_dropped(spark):
    rows = [
        ("CX", "m1", "CHANNEL", 10, dt.date(2022, 4, 1) + dt.timedelta(days=i))
        for i in range(40)  # 40 distinct days -> 'error' bucket
    ]
    df = spark.createDataFrame(
        rows, ["Contract", "Mac", "AppName", "TotalDuration", "Date"]
    )
    out = interaction_features(df).collect()
    assert out == []  # activeness 'error' row filtered -> inner join drops CX


@pytest.fixture(scope="module")
def edge_features(spark):
    # The traps of computing devices, activeness and the category pivot
    # in one aggregate instead of three joined ones:
    # E1: one categorized row plus UNKNOWN_APP rows on 8 more days and
    #   on a second Mac -> those rows still count toward TotalDevices
    #   and Activeness, not toward any category total.
    # E2: its only categorized row has a NULL TotalDuration -> kept,
    #   with 0 in every total.
    # NULL Contract: dropped, like the '0' sentinel.
    # E3: every Mac is NULL -> TotalDevices 0 (COUNT DISTINCT skips NULL).
    rows = [
        ("E1", "m1", "CHANNEL", 20, d(1)),
        *[("E1", "m2", "UNKNOWN_APP", 5, d(day)) for day in range(2, 10)],
        ("E2", "m3", "VOD", None, d(1)),
        (None, "m4", "SPORT", 60, d(1)),
        ("E3", None, "SPORT", 30, d(1)),
        ("E3", None, "RELAX", 10, d(2)),
    ]
    df = spark.createDataFrame(
        rows,
        "Contract string, Mac string, AppName string, TotalDuration long, Date date",
    )
    return interaction_features(df)


@pytest.fixture(scope="module")
def edge_rows(edge_features):
    return {r["Contract"]: r.asDict() for r in edge_features.collect()}


def test_unknown_app_rows_count_toward_devices_and_activeness(edge_rows):
    e1 = edge_rows["E1"]
    assert e1["TotalDevices"] == 2
    assert e1["Activeness"] == "low"  # 9 distinct days
    assert e1["Total_Truyen_hinh"] == 20  # UNKNOWN_APP durations excluded
    assert e1["CustomerTaste"] == "Truyen_hinh"


def test_null_duration_contract_kept_with_zero_totals(edge_rows):
    e2 = edge_rows["E2"]
    assert [e2[f"Total_{c}"] for c in CATEGORIES] == [0] * len(CATEGORIES)
    assert e2["TotalDevices"] == 1
    assert e2["Activeness"] == "very low"


def test_null_contract_dropped(edge_rows):
    assert set(edge_rows) == {"E1", "E2", "E3"}


def test_all_null_macs_count_zero_devices(edge_rows):
    e3 = edge_rows["E3"]
    assert e3["TotalDevices"] == 0
    assert (e3["Total_The_thao"], e3["Total_Giai_tri"]) == (30, 10)


def test_category_totals_keep_long_type(edge_features):
    types = dict(edge_features.dtypes)
    assert {types[f"Total_{c}"] for c in CATEGORIES} == {"bigint"}
    assert types["TotalDevices"] == "bigint"


# --- search trends ---------------------------------------------------------


@pytest.fixture(scope="module")
def search_fixture(spark):
    # u1: month 6 top 'foo' (2x), month 7 top 'bar' -> categories differ.
    # u2: tie in month 6 between 'aaa' and 'bbb' (1x each) ->
    #     deterministic tiebreak picks 'aaa'; month 7 'aaa' -> Unchanged.
    # u3: only month 6 -> dropped by inner join.
    # u4: keyword unmapped in month 7 -> NULL category -> 'Changed'.
    # NULL user_id / keyword rows are filtered.
    rows = [
        (6, "u1", "foo"),
        (6, "u1", "foo"),
        (6, "u1", "bar"),
        (7, "u1", "bar "),  # trailing space: trimmed
        (6, "u2", "aaa"),
        (6, "u2", "bbb"),
        (7, "u2", "aaa"),
        (6, "u3", "foo"),
        (6, "u4", "foo"),
        (7, "u4", "zzz"),
        (6, None, "foo"),
        (6, "u5", None),
        (5, "u1", "foo"),  # month outside {6,7}: ignored
    ]
    log_search = spark.createDataFrame(rows, ["month", "user_id", "keyword"])
    mapping = spark.createDataFrame(
        [("foo", "sports"), ("bar", "movies"), ("aaa", "music"), ("bbb", "news")],
        ["search", "category"],
    )
    return log_search, mapping


@pytest.fixture(scope="module")
def trends(search_fixture):
    log_search, mapping = search_fixture
    return {
        r["user_id"]: r.asDict()
        for r in search_trends(log_search, mapping).collect()
    }


def test_top_keyword_and_trim(trends):
    assert trends["u1"]["most_search_6"] == "foo"
    assert trends["u1"]["most_search_7"] == "bar"  # trimmed


def test_tiebreak_deterministic(trends):
    assert trends["u2"]["most_search_6"] == "aaa"  # count tie -> keyword asc


def test_inner_join_drops_single_month_user(trends):
    assert "u3" not in trends


def test_category_enrichment_and_trending(trends):
    assert trends["u1"]["category_6"] == "sports"
    assert trends["u1"]["category_7"] == "movies"
    assert trends["u1"]["Trending_Type"] == "Changed"
    assert trends["u1"]["Previous"] == "sports -> movies"
    assert trends["u2"]["Trending_Type"] == "Unchanged"
    assert trends["u2"]["Previous"] == "Unchanged"


def test_unmapped_keyword_null_category_is_changed(trends):
    assert trends["u4"]["category_7"] is None
    assert trends["u4"]["Trending_Type"] == "Changed"
    # concat_ws skips the NULL part (reference ETL_pipeline.py:196)
    assert trends["u4"]["Previous"] == "sports"


# --- merge ------------------------------------------------------------------


def test_merge_keyed(spark):
    a = spark.createDataFrame([("C1", 1), ("C2", 2)], ["Contract", "x"])
    b = spark.createDataFrame([("C1", 10), ("C3", 30)], ["Contract", "y"])
    out = merge_feature_tables(a, b, on="Contract").collect()
    assert len(out) == 1 and out[0]["x"] == 1 and out[0]["y"] == 10


def test_merge_positional_zip_deterministic(spark):
    a = spark.createDataFrame([("b", 2), ("a", 1)], ["k", "x"])
    b = spark.createDataFrame([("d", 20), ("c", 10)], ["j", "y"])
    out = merge_feature_tables(
        a, b, on=None, zip_order=(["k"], ["j"])
    ).orderBy("k").collect()
    assert [(r["k"], r["j"]) for r in out] == [("a", "c"), ("b", "d")]


def test_pipeline_runner_composes_reference_flow(spark, log_content):
    """The runner composes the full interaction pipeline and executes it
    with one terminal action, matching the direct call."""
    from pyspark.sql import functions as F

    from customer_360_etl_pipeline_on_azure_cloud_spark.plans.runner import Pipeline

    direct = {r["Contract"]: r.asDict() for r in interaction_features(log_content).collect()}
    collected = []
    pipe = Pipeline("interaction").step("features", interaction_features)
    pipe.run_to(log_content, lambda df: collected.extend(df.collect()))
    via_runner = {r["Contract"]: r.asDict() for r in collected}
    assert direct == via_runner
