"""Unit tests for the join/window/aggregate completions: as-of join,
sessionization, HLL approx distinct, top-1-per-group agg variant."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL

from customer_360_etl_pipeline_on_azure_cloud_spark.operators.aggregates import (
    distinct_count,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.joins import (
    asof_join_backward,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.windows import (
    sessionize,
    top_1_per_group_agg,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import load_table


def ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def test_asof_backward_basic_and_inclusive(spark):
    left = spark.createDataFrame(
        [("u1", ts(10), "e1"), ("u1", ts(30), "e2"), ("u2", ts(5), "e3")],
        ["uid", "lts", "eid"],
    )
    right = spark.createDataFrame(
        [("u1", ts(10), 100), ("u1", ts(20), 200), ("u2", ts(6), 300)],
        ["uid", "rts", "val"],
    )
    out = {
        r["eid"]: r.asDict()
        for r in asof_join_backward(
            left, right, by="uid", left_ts="lts", right_ts="rts",
            right_values=["val"],
        ).collect()
    }
    # equal timestamps match (inclusive backward)
    assert out["e1"]["val_asof"] == 100 and out["e1"]["rts_asof"] == ts(10)
    # latest at-or-before wins
    assert out["e2"]["val_asof"] == 200
    # no right row at or before -> nulls
    assert out["e3"]["val_asof"] is None and out["e3"]["rts_asof"] is None


def test_asof_forward_basic_inclusive_and_tiebreak(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.joins import (
        asof_join_forward,
    )

    left = spark.createDataFrame(
        [("u1", ts(10), "e1"), ("u1", ts(30), "e2"), ("u2", ts(9), "e3"),
         ("u2", ts(50), "e4")],
        ["uid", "lts", "eid"],
    )
    right = spark.createDataFrame(
        [("u1", ts(10), 100), ("u1", ts(20), 200), ("u1", ts(20), 150),
         ("u2", ts(6), 300)],
        ["uid", "rts", "val"],
    )
    out = {
        r["eid"]: r.asDict()
        for r in asof_join_forward(
            left, right, by="uid", left_ts="lts", right_ts="rts",
            right_values=["val"],
        ).collect()
    }
    # equal timestamps match (inclusive forward)
    assert out["e1"]["val_asof"] == 100 and out["e1"]["rts_asof"] == ts(10)
    # earliest at-or-after wins; equal-rts tie -> SMALLEST value struct
    assert out["e2"]["val_asof"] is None  # nothing at/after ts(30) for u1
    # no right row at or after -> nulls
    assert out["e4"]["val_asof"] is None and out["e4"]["rts_asof"] is None
    # e3 at ts(9): u2's only right row is ts(6) < ts(9) -> null
    assert out["e3"]["val_asof"] is None

    left2 = spark.createDataFrame([("u1", ts(15), "x")], ["uid", "lts", "eid"])
    got = asof_join_forward(
        left2, right, by="uid", left_ts="lts", right_ts="rts",
        right_values=["val"],
    ).first()
    # two right rows at ts(20): struct-min tiebreak picks val=150
    assert got["rts_asof"] == ts(20) and got["val_asof"] == 150

    # split invariance
    a = sorted(map(tuple, asof_join_forward(
        left.repartition(5), right.repartition(3), by="uid",
        left_ts="lts", right_ts="rts", right_values=["val"],
    ).collect()))
    b = sorted(map(tuple, asof_join_forward(
        left, right, by="uid", left_ts="lts", right_ts="rts",
        right_values=["val"],
    ).collect()))
    assert a == b


def test_asof_nearest_distance_and_backward_tie(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.joins import (
        asof_join_nearest,
    )

    left = spark.createDataFrame(
        [
            ("u1", ts(10), "equal"),     # exact-ts match -> distance 0
            ("u1", ts(14), "closer_b"),  # back 4 min vs fwd 6 min
            ("u1", ts(15), "tie"),       # 5 min both ways -> backward
            ("u1", ts(17), "closer_f"),  # back 7 min vs fwd 3 min
            ("u2", ts(30), "only_b"),    # nothing after
            ("u3", ts(1), "only_f"),     # nothing before
            ("u4", ts(9), "none"),       # no purchases at all
        ],
        ["uid", "lts", "eid"],
    )
    right = spark.createDataFrame(
        [
            ("u1", ts(10), 100),
            ("u1", ts(20), 200),
            ("u2", ts(5), 300),
            ("u3", ts(8), 400),
        ],
        ["uid", "rts", "val"],
    )
    out = {
        r["eid"]: r.asDict()
        for r in asof_join_nearest(
            left, right, by="uid", left_ts="lts", right_ts="rts",
            right_values=["val"],
        ).collect()
    }
    assert out["equal"]["val_asof"] == 100
    assert out["closer_b"]["val_asof"] == 100
    assert out["tie"]["val_asof"] == 100        # tie -> backward
    assert out["closer_f"]["val_asof"] == 200
    assert out["only_b"]["val_asof"] == 300
    assert out["only_f"]["val_asof"] == 400
    assert out["none"]["val_asof"] is None

    # split invariance
    a = sorted(map(tuple, asof_join_nearest(
        left.repartition(7), right.repartition(2), by="uid",
        left_ts="lts", right_ts="rts", right_values=["val"],
    ).collect()))
    b = sorted(map(tuple, asof_join_nearest(
        left, right, by="uid", left_ts="lts", right_ts="rts",
        right_values=["val"],
    ).collect()))
    assert a == b


def test_sessionize_gap_boundaries(spark):
    rows = [
        ("u1", ts(0), 1),
        ("u1", ts(10), 2),   # 10 min gap -> same session
        ("u1", ts(50), 3),   # 40 min gap -> new session
        ("u2", ts(0), 4),
    ]
    df = spark.createDataFrame(rows, ["uid", "t", "eid"])
    out = {
        r["eid"]: r["session_id"]
        for r in sessionize(
            df, ["uid"], "t", gap_seconds=1800, order_tiebreak=["eid"]
        ).collect()
    }
    assert out[1] == 1 and out[2] == 1 and out[3] == 2 and out[4] == 1


def test_approx_distinct_within_rsd(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    exact = {
        r["l_suppkey"]: r["distinct_parts"]
        for r in distinct_count(li, ["l_suppkey"], "l_partkey", "distinct_parts").collect()
    }
    approx = {
        r["l_suppkey"]: r["approx_parts"]
        for r in distinct_count(
            li, ["l_suppkey"], "l_partkey", "approx_parts", approx=True, rsd=0.02
        ).collect()
    }
    assert set(exact) == set(approx)
    for k, e in exact.items():
        assert abs(approx[k] - e) <= max(3, 0.1 * e), (k, e, approx[k])


def test_top1_agg_variant_matches_window_form(spark):
    ev = load_table(spark, SF_SMALL, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    # numeric-only order: highest n, tiebreak by event_type DESC encoded
    # via max(struct) — compare against the window form with the same
    # (n desc, event_type desc) total order.
    agg_form = top_1_per_group_agg(
        counts, ["user_id"], [F.col("n"), F.col("event_type")], ["event_type", "n"]
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.windows import (
        top_k_per_group,
    )

    win_form = top_k_per_group(
        counts,
        ["user_id"],
        [F.col("n").desc(), F.col("event_type").desc()],
        k=1,
    ).select("user_id", "event_type", "n")
    a = sorted(map(tuple, agg_form.select("user_id", "event_type", "n").collect()))
    b = sorted(map(tuple, win_form.collect()))
    assert a == b


def test_top1_min_agg_matches_window_with_string_asc_tiebreak(spark):
    # the exact order used by the contract queries: count DESC,
    # event_type ASC — now expressible as one aggregate
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.windows import (
        top_1_per_group_min,
        top_k_per_group,
    )

    ev = load_table(spark, SF_SMALL, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    agg_form = top_1_per_group_min(
        counts, ["user_id"], [-F.col("n"), F.col("event_type")], ["event_type", "n"]
    )
    win_form = top_k_per_group(
        counts, ["user_id"], [F.col("n").desc(), F.col("event_type").asc()], k=1
    ).select("user_id", "event_type", "n")
    a = sorted(map(tuple, agg_form.select("user_id", "event_type", "n").collect()))
    b = sorted(map(tuple, win_form.collect()))
    assert a == b
    # and the agg form plans ONE shuffle on top of the counts agg, no Window
    plan = agg_form._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_quantile_approx_converges_to_exact(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.aggregates import (
        quantile_cutoffs,
    )

    o = load_table(spark, SF_SMALL, "orders")
    exact = quantile_cutoffs(o, "o_totalprice", exact=True)
    approx = quantile_cutoffs(o, "o_totalprice", exact=False, accuracy=10000)
    coarse = quantile_cutoffs(o, "o_totalprice", exact=False, accuracy=100)
    for e, a in zip(exact, approx):
        assert abs(a - e) / e < 0.02  # high accuracy ~ exact
    # the reference's hardcoded accuracy=100 is visibly coarser
    assert any(abs(c - e) / e > 1e-6 for e, c in zip(exact, coarse)) or coarse != exact


def test_banded_range_join_matches_theta_join(spark):
    # correctness vs the naive theta join on a small fixture, including
    # intervals spanning multiple bands, empty intervals (lo>v>hi never
    # true), and boundary-exact values
    from pyspark.sql import functions as F

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.joins import (
        banded_range_join,
    )

    left = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0.0, 5.0, 9.99, 10.0, 25.0, 99.5])],
        ["lid", "v"],
    )
    right = spark.createDataFrame(
        [
            (0, 0.0, 10.0),    # spans bands 0..1, inclusive bounds
            (1, 9.99, 9.99),   # point interval
            (2, 24.0, 26.0),
            (3, 50.0, 60.0),   # matches nothing
            (4, -5.0, 120.0),  # spans everything
        ],
        ["rid", "lo", "hi"],
    )
    banded = banded_range_join(left, right, "v", "lo", "hi", band_width=10.0)
    naive = left.join(
        right, (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi"))
    )
    got = sorted((r.lid, r.rid) for r in banded.collect())
    want = sorted((r.lid, r.rid) for r in naive.collect())
    assert got == want
    assert (0, 0) in got and (3, 0) in got  # both 10.0-bounds inclusive
    assert all(p[0] is not None for p in got)


def test_connected_components_transitive_and_singletons(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
        connected_components,
        dedup_survivors,
    )

    # chain 1-2-3 (1,3 never paired), pair 10-11, isolated 99
    edges = spark.createDataFrame([(2, 1), (2, 3), (10, 11)], ["id_a", "id_b"])
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], ["id"])
    comp = {
        r["id"]: r["component"]
        for r in connected_components(edges, vertices=verts).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}

    surv = dedup_survivors(edges, verts)
    keep = sorted(r["id"] for r in surv.filter("is_survivor").collect())
    assert keep == [1, 10, 99]


@pytest.mark.parametrize(
    "algorithm,budget", [("hash_min", 13), ("two_phase", 5)]
)
def test_connected_components_long_chain_converges(spark, algorithm, budget):
    """``budget`` is the exact round count the path needs, counting the
    round that proves the fixed point (hash-min: 12 label hops plus the
    unchanged round; two_phase: 4 rewiring rounds plus the unchanged
    one).  Converging on the last allowed round returns; one round less
    leaves labels unproven, and that raises instead of returning them."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
        connected_components,
    )

    # path graph 0-1-...-12: needs multiple propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"]
    )
    rows = connected_components(
        edges, algorithm=algorithm, max_iter=budget
    ).collect()
    assert {r["component"] for r in rows} == {0}
    assert len(rows) == 13
    with pytest.raises(RuntimeError, match="fixed point"):
        connected_components(edges, algorithm=algorithm, max_iter=budget - 1)


def test_two_phase_components_fixpoint_equals_hash_min(spark):
    """large-star/small-star must reach the IDENTICAL (id, component)
    labeling as hash-min label propagation on assorted random graphs."""
    import random

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(42)
    for trial in range(3):
        n = 60
        m = rng.randrange(20, 80)
        pairs = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        pairs = [(a, b) for a, b in pairs if a != b] or [(0, 1)]
        edges = spark.createDataFrame(pairs, ["id_a", "id_b"])
        verts = spark.createDataFrame([(i,) for i in range(n)], ["id"])
        hm = {
            (r["id"], r["component"])
            for r in connected_components(edges, vertices=verts).collect()
        }
        tp = {
            (r["id"], r["component"])
            for r in connected_components(
                edges, vertices=verts, algorithm="two_phase"
            ).collect()
        }
        assert tp == hm, f"trial {trial}: labelings diverge"


def test_two_phase_components_path_graph_logsq_rounds(spark):
    """A 1000-node path is the adversarial case: hash-min needs ~1000
    rounds (diameter), two_phase must converge in O(log^2 n) — give it
    20 rounds and require the exact single-component labeling."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], ["id_a", "id_b"]
    )
    rows = connected_components(
        edges, algorithm="two_phase", max_iter=20
    ).collect()
    assert len(rows) == 1000
    assert {r["component"] for r in rows} == {0}
    assert {r["id"] for r in rows} == set(range(1000))


def test_two_phase_components_isolated_and_empty(spark):
    from pyspark.sql import types as T

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
        connected_components,
    )

    empty = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("id_a", T.LongType()),
                T.StructField("id_b", T.LongType()),
            ]
        ),
    )
    verts = spark.createDataFrame([(7,), (9,)], ["id"])
    got = {
        (r["id"], r["component"])
        for r in connected_components(
            empty, vertices=verts, algorithm="two_phase"
        ).collect()
    }
    assert got == {(7, 7), (9, 9)}


def test_deterministic_sample_rate_and_stability(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.sampling import (
        deterministic_sample,
    )

    df = spark.range(20000).withColumnRenamed("id", "k")
    s1 = deterministic_sample(df, "k", 0.3)
    n = s1.count()
    assert abs(n / 20000 - 0.3) < 0.02  # md5 uniformity
    # partitioning-independent: same rows after a repartition
    ids1 = {r["k"] for r in s1.collect()}
    ids2 = {r["k"] for r in deterministic_sample(df.repartition(7), "k", 0.3).collect()}
    assert ids1 == ids2
    # monotone: a smaller rate selects a subset
    ids_small = {r["k"] for r in deterministic_sample(df, "k", 0.1).collect()}
    assert ids_small <= ids1
    # a different salt gives a different (same-size-ish) sample
    ids_salted = {r["k"] for r in deterministic_sample(df, "k", 0.3, salt="v2").collect()}
    assert ids_salted != ids1


def test_stratified_sample_rates_per_stratum(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.sampling import (
        stratified_sample,
    )

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(10000)]
    df = spark.createDataFrame(rows, ["k", "s"])
    out = stratified_sample(
        df, "k", "s", {"a": 1.0, "b": 0.2}, default_rate=0.0
    )
    by = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert by["a"] == 5000  # rate 1.0 keeps everything
    assert abs(by["b"] / 5000 - 0.2) < 0.04
    # unlisted stratum with default 0.0 disappears
    df2 = df.withColumn("s", F.lit("zz"))
    assert stratified_sample(df2, "k", "s", {"a": 1.0}).count() == 0


def test_pack_sequences_greedy_budget_and_oversize(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.packing import (
        pack_sequences,
    )

    rows = [
        # group g: 200+250 fit in 500, 100 overflows -> pack 1; 600 is
        # oversize -> its own pack; 50 follows in a fresh pack
        ("g", 1, 200), ("g", 2, 250), ("g", 3, 100), ("g", 4, 600), ("g", 5, 50),
        ("h", 1, 500),  # exactly at budget
        ("h", 2, 1),
    ]
    df = spark.createDataFrame(rows, ["grp", "ord", "tok"])
    out = pack_sequences(df, "grp", "ord", "tok", budget=500)
    got = {(r["grp"], r["ord"]): r["pack_id"] for r in out.collect()}
    assert got == {
        ("g", 1): 0, ("g", 2): 0, ("g", 3): 1, ("g", 4): 2, ("g", 5): 3,
        ("h", 1): 0, ("h", 2): 1,  # 500+1 > 500 -> next pack
    }
    # determinism under repartition
    got2 = {
        (r["grp"], r["ord"]): r["pack_id"]
        for r in pack_sequences(
            df.repartition(5), "grp", "ord", "tok", budget=500
        ).collect()
    }
    assert got2 == got


def test_bm25_ranks_matching_docs_first(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.text import bm25_topk

    rows = [
        (1, "spark hash join spark join"),         # all terms, short
        (2, "spark " + "filler " * 50),            # one term, long
        (3, "nothing relevant here at all"),
        (4, "hash join"),                          # two terms, shortest
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_topk(df, ["spark", "hash", "join"], k=4)
    ranked = [r["doc_id"] for r in out.collect()]
    assert ranked[0] in (1, 4) and set(ranked[:2]) == {1, 4}
    assert ranked[-1] == 3
    scores = {r["doc_id"]: r["score"] for r in out.collect()}
    assert scores[3] == 0.0
    assert all(s >= 0 for s in scores.values())


def test_bm25_empty_terms_rejected_before_side_effects(spark):
    # the terms are checked before the token table is cached: an empty
    # query raises ValueError, runs no job and caches nothing
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.text import bm25_topk

    df = spark.createDataFrame([(1, "spark hash join")], ["doc_id", "text"])
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    sc = spark.sparkContext
    sc.setJobGroup("bm25_empty_terms", "empty BM25 query")
    try:
        with pytest.raises(ValueError, match="terms"):
            bm25_topk(df, [])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("bm25_empty_terms")) == []
    assert cache.isEmpty()


def test_cms_never_underestimates_even_with_collisions(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.aggregates import (
        cms_frequencies,
    )

    # 200 distinct keys forced into a ~7-counter-wide sketch (eps=0.4):
    # collisions guaranteed -> estimates inflate, but NEVER drop below
    # the true count (the CMS theorem the oracle leans on)
    rows = [(f"k{i % 200}",) for i in range(5000)]
    df = spark.createDataFrame(rows, ["k"])
    cands = [f"k{i}" for i in range(200)]
    est = {
        r["k"]: r["cms_n"]
        for r in cms_frequencies(df, "k", cands, eps=0.4, seed=7).collect()
    }
    from collections import Counter

    true = Counter(r[0] for r in rows)
    assert all(est[k] >= true[k] for k in cands)
    assert any(est[k] > true[k] for k in cands)  # the narrow sketch collides
    # determinism: same seed, different partitioning -> same estimates
    est2 = {
        r["k"]: r["cms_n"]
        for r in cms_frequencies(
            df.repartition(11), "k", cands, eps=0.4, seed=7
        ).collect()
    }
    assert est2 == est


def test_dedup_survivors_priority_keeps_best(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
        dedup_survivors,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    # priority: 3 is the longest in {1,2,3}; tie in {10,11} -> lower id
    verts = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 20), (10, 7), (11, 7), (99, 1)], ["id", "len"]
    )
    out = dedup_survivors(edges, verts, priority_col="len")
    keep = sorted(r["id"] for r in out.filter("is_survivor").collect())
    assert keep == [3, 10, 99]
    assert out.count() == 6


class TestScd2:
    def test_scd2_intervals_partition_timeline(self, spark):
        # versions per key must tile the key's lifetime: valid_to of
        # version k == valid_from of k+1, exactly one open interval per
        # key, and version numbering is dense from 1
        from customer_360_etl_pipeline_on_azure_cloud_spark.operators.scd import (
            scd2_collapse,
        )

        rows = [
            # user 1: A A B A  -> 3 versions (A, B, A)
            (1, "A", 10, 100), (1, "A", 20, 101), (1, "B", 30, 102),
            (1, "A", 40, 103),
            # user 2: NULL NULL X -> 2 versions (NULL run collapses)
            (2, None, 10, 200), (2, None, 20, 201), (2, "X", 30, 202),
        ]
        df = spark.createDataFrame(rows, ["k", "attr", "ts", "id"])
        out = scd2_collapse(df, ["k"], ["attr"], "ts", "id").collect()
        by_key: dict = {}
        for r in out:
            by_key.setdefault(r["k"], []).append(r)
        assert len(by_key[1]) == 3 and len(by_key[2]) == 2
        for k, rows_k in by_key.items():
            rows_k.sort(key=lambda r: r["version"])
            assert [r["version"] for r in rows_k] == list(
                range(1, len(rows_k) + 1)
            )
            for a, b in zip(rows_k, rows_k[1:]):
                assert a["valid_to"] == b["valid_from"]
            assert rows_k[-1]["valid_to"] is None
            assert [r["is_current"] for r in rows_k] == [False] * (
                len(rows_k) - 1
            ) + [True]
        # island values survive the collapse
        u1 = [r["attr"] for r in sorted(by_key[1], key=lambda r: r["version"])]
        assert u1 == ["A", "B", "A"]
        u2 = [r["attr"] for r in sorted(by_key[2], key=lambda r: r["version"])]
        assert u2 == [None, "X"]

    def test_scd2_point_in_time_is_exact_state(self, spark):
        from customer_360_etl_pipeline_on_azure_cloud_spark.operators.scd import (
            scd2_collapse,
            scd2_point_in_time,
        )
        from pyspark.sql import functions as F

        rows = [(1, "A", 10, 0), (1, "B", 30, 1), (2, "C", 50, 2)]
        df = spark.createDataFrame(rows, ["k", "attr", "ts", "id"])
        hist = scd2_collapse(df, ["k"], ["attr"], "ts", "id")
        snap = scd2_point_in_time(hist, F.lit(20)).collect()
        assert {(r["k"], r["attr"]) for r in snap} == {(1, "A")}
        snap2 = scd2_point_in_time(hist, F.lit(60)).collect()
        assert {(r["k"], r["attr"]) for r in snap2} == {(1, "B"), (2, "C")}


class TestIncremental:
    def test_merge_order_invariant_and_equals_direct(self, spark):
        # folding states in any order == direct aggregate over the union
        from pyspark.sql import functions as F
        from customer_360_etl_pipeline_on_azure_cloud_spark.operators.incremental import (
            finalize,
            merge_partials,
            partial_aggregate,
        )

        rows = [(i % 3, i, float(i)) for i in range(100)]
        df = spark.createDataFrame(rows, ["k", "n", "x"])
        measures = {
            "s": ("sum", "n"),
            "c": ("count", "n"),
            "lo": ("min", "x"),
            "hi": ("max", "x"),
        }
        batches = [df.filter(F.col("n") % 4 == i) for i in range(4)]
        states = [partial_aggregate(b, ["k"], measures) for b in batches]
        direct = {
            r["k"]: (r["s"], r["c"], r["lo"], r["hi"])
            for r in partial_aggregate(df, ["k"], measures).collect()
        }
        for order in ([0, 1, 2, 3], [3, 1, 0, 2]):
            merged = merge_partials([states[i] for i in order], ["k"], measures)
            got = {
                r["k"]: (r["s"], r["c"], r["lo"], r["hi"])
                for r in merged.collect()
            }
            assert got == direct
        fin = finalize(
            merge_partials(states, ["k"], measures), {"avg": ("s", "c")}
        ).collect()
        for r in fin:
            assert r["avg"] == direct[r["k"]][0] / direct[r["k"]][1]

    def test_non_algebraic_measure_rejected(self, spark):
        import pytest as _pytest
        from customer_360_etl_pipeline_on_azure_cloud_spark.operators.incremental import (
            partial_aggregate,
        )

        df = spark.createDataFrame([(1, 2.0)], ["k", "x"])
        with _pytest.raises(ValueError, match="algebraic"):
            partial_aggregate(df, ["k"], {"a": ("avg", "x")})


class TestZorder:
    def test_zorder_key_is_a_bijection_on_the_grid(self, spark):
        # every (x, y) in the 64x64 grid maps to a distinct key in
        # [0, 4096) and the interleave round-trips
        from pyspark.sql import functions as F
        from customer_360_etl_pipeline_on_azure_cloud_spark.operators.layout import (
            zorder_key,
        )

        grid = (
            spark.range(64)
            .selectExpr("id AS x")
            .crossJoin(spark.range(64).selectExpr("id AS y"))
        )
        keyed = grid.select("x", "y", zorder_key(["x", "y"], bits=6).alias("z"))
        stats = keyed.agg(
            F.countDistinct("z").alias("nd"),
            F.min("z").alias("lo"),
            F.max("z").alias("hi"),
        ).collect()[0]
        assert stats["nd"] == 64 * 64
        assert stats["lo"] == 0 and stats["hi"] == 64 * 64 - 1
        # de-interleave: even bits -> x, odd bits -> y
        back = keyed.select(
            "x", "y",
            sum(
                (F.shiftright("z", 2 * i).bitwiseAND(F.lit(1)) * (1 << i))
                for i in range(6)
            ).alias("x2"),
            sum(
                (F.shiftright("z", 2 * i + 1).bitwiseAND(F.lit(1)) * (1 << i))
                for i in range(6)
            ).alias("y2"),
        )
        assert back.filter("x != x2 OR y != y2").count() == 0

    def test_cluster_by_zorder_tightens_both_dimensions(self, spark):
        # after Z-clustering into 16 partitions, every partition's
        # bounding box must be tight in BOTH dims; a linear sort on x
        # leaves the y-range at full width in every partition
        from pyspark.sql import functions as F
        from customer_360_etl_pipeline_on_azure_cloud_spark.operators.layout import (
            cluster_by_zorder,
        )

        grid = (
            spark.range(64)
            .selectExpr("id AS x")
            .crossJoin(spark.range(64).selectExpr("id AS y"))
        )
        clustered = cluster_by_zorder(grid, ["x", "y"], bits=6, num_partitions=16)
        spans = (
            clustered.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(
                (F.max("x") - F.min("x")).alias("xs"),
                (F.max("y") - F.min("y")).alias("ys"),
            )
            .collect()
        )
        assert len(spans) == 16
        for r in spans:
            # 4096 cells / 16 partitions = 256 cells; a Z-contiguous
            # range of 256 cells spans at most 2 quadrant widths (<=31)
            # in each dim -- far tighter than the full 63
            assert r["xs"] <= 32 and r["ys"] <= 32, dict(r.asDict())

    def test_zorder_key_rejects_overflow(self, spark):
        import pytest as _pytest
        from customer_360_etl_pipeline_on_azure_cloud_spark.operators.layout import (
            zorder_key,
        )

        with _pytest.raises(ValueError, match="overflows"):
            zorder_key(["a", "b"], bits=32)


class TestIntervalOverlapJoin:
    def test_pairs_exact_no_duplicates_across_buckets(self, spark):
        # long intervals share MANY buckets — each overlapping pair must
        # still come out exactly once (first-shared-bucket rule)
        from customer_360_etl_pipeline_on_azure_cloud_spark.operators.joins import (
            interval_overlap_join,
        )

        left = spark.createDataFrame(
            [(1, "a", 0.0, 500.0), (1, "b", 600.0, 650.0), (2, "c", 0.0, 50.0)],
            ["k", "lid", "ls", "le"],
        )
        right = spark.createDataFrame(
            [(1, "x", 400.0, 700.0), (1, "y", 510.0, 590.0), (2, "z", 60.0, 70.0)],
            ["k", "rid", "rs", "re"],
        )
        out = interval_overlap_join(
            left, right, "ls", "le", "rs", "re", keys=["k"], bucket=10.0
        )
        pairs = sorted((r["lid"], r["rid"]) for r in out.collect())
        # a-x overlap [400,500] across ~10 shared buckets -> once;
        # b-x overlap at [600,650]; y overlaps neither (gap 500..510? a
        # ends at 500, y starts 510); z starts after c ends -> no pair
        assert pairs == [("a", "x"), ("b", "x")]

    def test_touching_endpoints_are_closed_interval_overlaps(self, spark):
        from customer_360_etl_pipeline_on_azure_cloud_spark.operators.joins import (
            interval_overlap_join,
        )

        left = spark.createDataFrame([(1, "a", 0.0, 100.0)], ["k", "lid", "ls", "le"])
        right = spark.createDataFrame([(1, "x", 100.0, 200.0)], ["k", "rid", "rs", "re"])
        out = interval_overlap_join(
            left, right, "ls", "le", "rs", "re", keys=["k"], bucket=30.0
        )
        assert [(r["lid"], r["rid"]) for r in out.collect()] == [("a", "x")]

    def test_matches_cross_join_reference(self, spark):
        # randomized-but-deterministic fixture vs the quadratic reference
        from pyspark.sql import functions as F
        from customer_360_etl_pipeline_on_azure_cloud_spark.operators.joins import (
            interval_overlap_join,
        )

        base = spark.range(80).select(
            (F.col("id") % 4).alias("k"),
            F.col("id").alias("lid"),
            (F.pmod(F.xxhash64("id"), F.lit(1000)) + 1000).cast("double").alias("ls"),
        ).withColumn("le", F.col("ls") + F.pmod(F.xxhash64("lid", F.lit(1)), F.lit(200)).cast("double"))
        other = spark.range(60).select(
            (F.col("id") % 4).alias("k"),
            F.col("id").alias("rid"),
            (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1000)) + 1000).cast("double").alias("rs"),
        ).withColumn("re", F.col("rs") + F.pmod(F.xxhash64("rid", F.lit(3)), F.lit(200)).cast("double"))
        got = sorted(
            (r["lid"], r["rid"])
            for r in interval_overlap_join(
                base, other, "ls", "le", "rs", "re", keys=["k"], bucket=50.0
            ).collect()
        )
        want = sorted(
            (r["lid"], r["rid"])
            for r in base.join(other, "k")
            .filter((F.col("ls") <= F.col("re")) & (F.col("rs") <= F.col("le")))
            .collect()
        )
        assert got == want and len(got) > 0


class TestUpsertDiff:
    def test_merge_upsert_replaces_and_inserts(self, spark):
        from customer_360_etl_pipeline_on_azure_cloud_spark.operators.upsert import (
            merge_upsert,
        )

        target = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
        )
        updates = spark.createDataFrame([(2, "B"), (9, "Z")], ["k", "v"])
        got = sorted(tuple(r) for r in merge_upsert(target, updates, ["k"]).collect())
        assert got == [(1, "a"), (2, "B"), (3, "c"), (9, "Z")]

    def test_snapshot_diff_classifies_all_change_types(self, spark):
        from customer_360_etl_pipeline_on_azure_cloud_spark.operators.upsert import (
            snapshot_diff,
        )

        old = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None), (4, "d")], ["k", "v"]
        )
        new = spark.createDataFrame(
            [(1, "a"), (2, "B"), (3, None), (5, "e")], ["k", "v"]
        )
        got = {
            (r["k"], r["v"], r["change_type"])
            for r in snapshot_diff(old, new, ["k"]).collect()
        }
        # 1 unchanged, 3 NULL==NULL unchanged (null-safe compare),
        # 2 updated, 4 deleted (old value kept), 5 inserted
        assert got == {
            (2, "B", "update"),
            (4, "d", "delete"),
            (5, "e", "insert"),
        }

    def test_upsert_then_diff_roundtrip(self, spark):
        # diff(old, merge_upsert(old, updates)) recovers exactly the
        # effective updates (idempotent rows drop out)
        from customer_360_etl_pipeline_on_azure_cloud_spark.operators.upsert import (
            merge_upsert,
            snapshot_diff,
        )

        old = spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], ["k", "x"]
        )
        updates = spark.createDataFrame(
            [(2, 99.0), (3, 30.0), (7, 70.0)], ["k", "x"]
        )
        new = merge_upsert(old, updates, ["k"])
        got = {
            (r["k"], r["x"], r["change_type"])
            for r in snapshot_diff(old, new, ["k"]).collect()
        }
        assert got == {(2, 99.0, "update"), (7, 70.0, "insert")}


class TestWeightedSample:
    def test_rate_monotone_and_weight_proportional(self, spark):
        from pyspark.sql import functions as F
        from customer_360_etl_pipeline_on_azure_cloud_spark.operators.sampling import (
            weighted_sample,
        )

        df = spark.range(4000).select(
            F.col("id").alias("k"),
            # two weight classes: 0.2 and 1.0
            F.when(F.col("id") % 2 == 0, F.lit(0.2)).otherwise(F.lit(1.0)).alias("w"),
        )
        small = weighted_sample(df, "k", "w", base_rate=0.3)
        big = weighted_sample(df, "k", "w", base_rate=0.6)
        s_keys = {r["k"] for r in small.collect()}
        b_keys = {r["k"] for r in big.collect()}
        # monotone: raising base_rate only adds rows
        assert s_keys <= b_keys
        # weight-proportional keep rates (within sampling tolerance)
        hi = small.filter("w = 1.0").count() / 2000
        lo = small.filter("w = 0.2").count() / 2000
        assert abs(hi - 0.3) < 0.05 and abs(lo - 0.06) < 0.03
        # deterministic: re-running yields the identical set
        assert {r["k"] for r in weighted_sample(df, "k", "w", 0.3).collect()} == s_keys

    def test_weight_above_one_caps_at_certainty(self, spark):
        from pyspark.sql import functions as F
        from customer_360_etl_pipeline_on_azure_cloud_spark.operators.sampling import (
            weighted_sample,
        )

        df = spark.range(500).select(F.col("id").alias("k"), F.lit(50.0).alias("w"))
        assert weighted_sample(df, "k", "w", base_rate=0.5).count() == 500


def test_lookup_alias_needs_exactly_one_value_col(spark):
    # an argument check, not an assert: under ``python -O`` an assert
    # vanishes and only the first of the two columns would be renamed
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.joins import (
        lookup,
    )

    df = spark.createDataFrame([("k1",)], "kw string")
    dim = spark.createDataFrame(
        [("k1", "c1", "d1")], "key string, cat string, dep string"
    )
    with pytest.raises(ValueError, match="exactly one value col"):
        lookup(df, dim, "kw", "key", ["cat", "dep"], alias="category")


def test_merge_feature_tables_needs_key_or_zip_order(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.plans.merge import (
        merge_feature_tables,
    )

    a = spark.createDataFrame([(1,)], "x long")
    b = spark.createDataFrame([(2,)], "y long")
    with pytest.raises(ValueError, match="zip order"):
        merge_feature_tables(a, b)
