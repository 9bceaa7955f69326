"""Physical-plan regression tests: the properties that matter at 100 TB
(pushdown, pruning, broadcast joins, no stray shuffles) pinned so a
refactor can't silently regress them.
"""

from __future__ import annotations

import re

import pytest

from conftest import SF_SMALL

from customer_360_etl_pipeline_on_azure_cloud_spark.operators import joins
from customer_360_etl_pipeline_on_azure_cloud_spark.testdata_queries import (
    CORE_QUERIES,
)


def plan_of(spark, name: str) -> str:
    # other test modules may have cached tables (session-scoped spark);
    # plan assertions are about the cold parquet-scan shape
    spark.catalog.clearCache()
    fn, _ = CORE_QUERIES[name]
    return fn(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = plan_of(spark, "pricing_summary")
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln][0]
    # filter reaches the scan
    assert "l_shipdate" in scan and "DataFilters" in scan
    # only the 7 needed columns are read, not all 11
    assert "l_orderkey" not in scan and "l_partkey" not in scan


def test_dim_joins_are_broadcast(spark):
    for name in ("region_rollup", "supplier_360", "user_trend"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, (
            f"{name}: dimension join regressed to a sort-merge shuffle"
        )


def test_pivot_is_single_aggregate_no_extra_job(spark):
    # Declared pivot values: plan builds eagerly without running a
    # distinct-values job, and pivots via hash aggregate (no join).
    plan = plan_of(spark, "returnflag_pivot")
    assert "HashAggregate" in plan
    assert "Join" not in plan


def test_no_cartesian_products_anywhere(spark):
    for name, (fn, _sql) in CORE_QUERIES.items():
        if name in ("ann_topk",):  # brute-force ANN is an intended
            continue  # broadcast nested-loop baseline
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name


def test_frame_blob_never_read_for_metadata_ops(spark):
    # covered in test_multimodal_streaming but cheap to keep close to
    # the other plan checks: doc_profile reads only doc_id + text
    plan = plan_of(spark, "doc_profile")
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln][0]
    assert "lang" not in scan and "source" not in scan


def test_asof_join_is_single_window_no_join(spark):
    # the as-of construction must be union+window: one hash-partition
    # Exchange on the key, ZERO join nodes
    plan = plan_of(spark, "asof_last_purchase")
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def _node_names(df) -> list[str]:
    # one physical-plan node per line: strip the tree glyphs and the
    # codegen stage marker, keep the operator name
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        re.sub(r"^[\s:+\-|]*(\*\(\d+\)\s*)?", "", ln).split(" ")[0]
        for ln in plan.splitlines()
    ]


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_every_direction_one_exchange_one_sort(spark, direction):
    # every direction is the same union-window pass: nearest stacks its
    # two frames on the one sort instead of sorting twice
    left = spark.createDataFrame(
        [("a", 1, "x"), ("b", 5, "y")], "k string, t long, e string"
    )
    right = spark.createDataFrame(
        [("a", 0, 10), ("b", 6, 20)], "k string, t2 long, v long"
    )
    fn = getattr(joins, f"asof_join_{direction}")
    names = _node_names(fn(left, right, "k", "t", "t2", ["v"]))
    assert names.count("Exchange") == 1, names
    assert names.count("Sort") == 1, names
    assert names.count("Window") == 1, names
    assert not any("Join" in n for n in names), names


def test_sessionize_single_shuffle(spark):
    # lag + running sum share the same partitioning: one Exchange
    # hashpartitioning(user_id) before the windows, plus one for the
    # final session aggregate
    plan = plan_of(spark, "sessionized_events")
    assert plan.count("Exchange hashpartitioning") <= 2


def test_fact_fact_range_join_is_equi_join(spark):
    # the banding rewrite must plan a hash equi-join on the band id —
    # never a BroadcastNestedLoopJoin (what Spark does for a raw theta
    # join) and never a cartesian product
    plan = plan_of(spark, "range_join_fact_fact")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # it still joins — as an equi-join


def test_user_trend_fused_agg_no_window(spark):
    # top-1-per-(period,user) + period pivot are ONE conditional hash
    # aggregate: no Window node, no sort, two hash-partition exchanges
    # (counts agg, user pivot agg) — the r1 window form cost a third
    # shuffle + sort and regressed 3.3x under load
    plan = plan_of(spark, "user_trend")
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_default_segmentation_uses_approx_percentile(spark):
    # Library default must be the mergeable sketch, never the
    # full-materialization exact percentile (a 100 TB column cannot land
    # in one aggregation buffer). Oracle queries opt into exact=True
    # explicitly; everything built on defaults must plan percentile_approx.
    from pyspark.sql import functions as F

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.aggregates import (
        quantile_agg,
        quantile_cutoffs,
    )

    df = spark.range(100).select(F.col("id").cast("double").alias("v"))

    default_plan = (
        quantile_agg(df, "v")._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "percentile_approx" in default_plan
    assert "percentile(" not in default_plan.replace("percentile_approx(", "")

    exact_plan = (
        quantile_agg(df, "v", exact=True)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "percentile(" in exact_plan.replace("percentile_approx(", "")

    # behavioural pin: approx (accuracy 10000) is element-exact on small
    # inputs; exact interpolates — on 0..99 they agree within one element
    approx = quantile_cutoffs(df, "v")
    exact = quantile_cutoffs(df, "v", exact=True)
    assert len(approx) == 3
    for a, e in zip(approx, exact):
        assert abs(a - e) <= 1.0


def test_stratified_sample_is_shuffle_free_pruned_scan(spark):
    # hash-gated sampling must stay a narrow map: no Exchange at all,
    # and the scan reads only the 3 projected columns (never text)
    plan = plan_of(spark, "stratified_sample")
    assert "Exchange" not in plan
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln][0]
    assert "text" not in scan


def test_bm25_topk_never_sorts_the_corpus(spark):
    # global top-k must plan TakeOrderedAndProject, not a full Sort
    # (inspect the lazy form — the contract query finalize()s the
    # result, leaving only a checkpoint scan in its plan)
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.text import (
        bm25_topk,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    spark.catalog.clearCache()
    docs = load_table(spark, SF_SMALL, "documents")
    df = bm25_topk(docs, ["spark", "hash"], k=10, materialize=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_doc_packing_single_group_shuffle(spark):
    # packing shuffles once on the group key; the walk itself is one
    # Arrow stage (FlatMapGroupsInPandas), no extra exchanges. Pinned
    # on the OPERATOR rather than the registered query: q_doc_packing
    # is now the scale-valid contract form (r10), whose sentinel
    # aggregations legitimately add post-walk exchanges over the tiny
    # per-pack frame.
    from pyspark.sql import functions as F

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.packing import (
        pack_sequences,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    spark.catalog.clearCache()
    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    df = pack_sequences(
        docs, group_col="lang", order_col="doc_id",
        token_col="n_tokens", budget=500,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("FlatMapGroupsInPandas") == 1
    # the registered contract query materializes the walk ONCE (eager
    # localCheckpoint) — its final plan reads checkpoint blocks, never
    # a re-inlined Arrow walk per contract branch
    contract_plan = plan_of(spark, "doc_packing")
    assert "FlatMapGroupsInPandas" not in contract_plan


def test_reference_e2e_no_cartesian_broadcast_dims(spark):
    # the full native-schema pipeline: tiny dims (keyword mapping,
    # quantile scalars) must broadcast, and nothing may plan cartesian
    plan = plan_of(spark, "reference_e2e")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_shipping_priority_topk_and_pushdown(spark):
    # TPC-H Q3 shape: top-10 must plan TakeOrderedAndProject (per-
    # partition top-k + driver merge), never a global Sort of the join
    # output; the date filters must reach the parquet scans
    plan = plan_of(spark, "shipping_priority")
    assert "TakeOrderedAndProject" in plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    li_scan = [s for s in scans if "l_shipdate" in s][0]
    assert "DataFilters" in li_scan
    # lineitem projection pruned to the 3 needed columns
    assert "l_quantity" not in li_scan and "l_tax" not in li_scan


def test_returned_item_revenue_broadcasts_nation(spark):
    plan = plan_of(spark, "returned_item_revenue")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_late_ship_priority_plans_semi_join(spark):
    # EXISTS must stay a semi-join (LeftSemi), never join+distinct
    plan = plan_of(spark, "late_ship_priority")
    assert "LeftSemi" in plan
    assert "Distinct" not in plan and "distinct" not in plan


def test_running_revenue_single_window_shuffle(spark):
    # running sum + row_number share ONE window spec -> one exchange,
    # one sort, one Window node
    plan = plan_of(spark, "running_revenue")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_rolling_event_value_single_window_shuffle(spark):
    plan = plan_of(spark, "rolling_event_value")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_scd2_single_key_shuffle(spark):
    # the whole gaps-and-islands construction must reuse ONE exchange
    # on the entity key (lag/run-sum windows + per-version agg + lead)
    plan = plan_of(spark, "scd2_user_state")
    assert plan.count("Exchange hashpartitioning") == 1


def test_skew_salted_segments_salts_the_join(spark):
    # the contract query must actually run the salted construction:
    # deterministic xxhash64 salt on the fact side, no cartesian
    plan = plan_of(spark, "skew_salted_segments")
    assert "xxhash64" in plan
    assert "__salt" in plan
    assert "CartesianProduct" not in plan


def test_incremental_merge_no_raw_reshuffle(spark):
    # the state merge aggregates state rows only: exactly one final
    # aggregate over the unioned states, with map-side partial agg
    # (two HashAggregate levels per batch + merge level)
    plan = plan_of(spark, "incremental_pricing")
    assert "Union" in plan
    assert "HashAggregate" in plan


def test_session_error_overlap_no_cartesian(spark):
    # the interval-overlap join must be a hash equi-join on
    # (user_id, bucket) — never BNLJ/cartesian
    plan = plan_of(spark, "session_error_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__bucket" in plan


def test_cheapest_supplier_min_join_no_subquery_loop(spark):
    # the decorrelated argmin: one aggregate + one broadcast join back,
    # never a nested-loop/cartesian correlated evaluation
    plan = plan_of(spark, "cheapest_supplier_per_part")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_embedding_norms_no_shuffle_no_python(spark):
    # HOF vector stats are a pure narrow map: no Exchange, no Python
    plan = plan_of(spark, "embedding_norms")
    assert "Exchange" not in plan
    assert "Python" not in plan and "FlatMapGroupsInPandas" not in plan


def test_pii_redaction_is_shuffle_free_scan(spark):
    # redaction must run at scan speed: no hash-partitioned shuffle, no
    # join, no aggregate (the only allowed Exchange is spread()'s
    # RoundRobin small-input fan-out, a no-op on real inputs)
    plan = plan_of(spark, "pii_redaction")
    assert "hashpartitioning" not in plan
    assert "Join" not in plan and "Aggregate" not in plan
    # regex chain stays JVM-side (no Python evaluation nodes)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "regexp_replace" in plan


def test_dataset_split_single_aggregation(spark):
    # hash-band assignment is a narrow map: exactly one shuffle (the
    # final group-by), nothing for the split assignment itself
    plan = plan_of(spark, "dataset_split")
    assert plan.count("Exchange") <= 2  # partial->final agg + AQE read
    assert "Join" not in plan


def test_contamination_benchmark_is_broadcast(spark):
    # finalize() hides the executed plan behind a checkpoint scan, so pin
    # the lazy form of the shared construction instead
    from pyspark.sql import functions as F
    from customer_360_etl_pipeline_on_azure_cloud_spark.curation_queries import (
        contamination_report,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )
    spark.catalog.clearCache()
    d = load_table(spark, SF_SMALL, "documents")
    out = contamination_report(
        d, bench_filter=F.col("doc_id") % 97 == 0, materialize=False
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_decontamination_vocab_is_broadcast(spark):
    # the benchmark n-gram vocabulary is eval-set-sized: both its
    # semi-join onto the corpus grams and the span attach must be
    # broadcast joins — the corpus is never sort-merge-joined
    from pyspark.sql import functions as F
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        remove_contaminated_spans,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )
    spark.catalog.clearCache()
    d = load_table(spark, SF_SMALL, "documents")
    out = remove_contaminated_spans(
        d.filter(F.col("doc_id") % 97 != 0),
        d.filter(F.col("doc_id") % 97 == 0),
        n=3,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_cdc_chunking_is_shuffle_free_narrow_map(spark):
    # content-defined chunking is pure in-row array algebra: the only
    # allowed Exchange is spread()'s round-robin rebalance of a
    # single-file demo input — never a hash partitioning, join, or sort
    plan = plan_of(spark, "cdc_chunking")
    assert "hashpartitioning" not in plan
    assert "Join" not in plan and "Sort" not in plan


def test_duplicate_passages_single_window_explode(spark):
    # v1 computed the window explode TWICE (count-distinct branch +
    # mark-join branch) and re-shuffled the full window table into a
    # sort-merge join — measured 11.7x growth on 10x data. The fix
    # pins: one generator over the corpus, totals by arithmetic.
    plan = plan_of(spark, "duplicate_passages")
    assert plan.count("Generate explode") == 2, (
        "expected exactly two generators: the corpus window explode + "
        "the small shared-members explode"
    )
    assert "SortMergeJoin" not in plan, (
        "marking shared windows must not re-shuffle the corpus window "
        "table into a sort-merge join"
    )


def test_bpe_merge_pairs_distributed_topk(spark):
    plan = plan_of(spark, "bpe_merge_pairs")
    assert "TakeOrderedAndProject" in plan, (
        "top-k pair selection must be a distributed top-k, not a "
        "global sort"
    )


def test_doc_lm_perplexity_broadcasts_vocab(spark):
    plan = plan_of(spark, "doc_lm_perplexity")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan, (
        "token scoring must join the vocabulary-sized unigram table "
        "by broadcast, never reshuffle the token stream"
    )


def test_gopher_flags_single_aggregation(spark):
    plan = plan_of(spark, "gopher_quality_flags")
    assert "Join" not in plan
    # one hash aggregate pair (partial + final) over the source key
    assert plan.count("HashAggregate") == 2


def _sql_plans(spark, action) -> list[list[str]]:
    """Run ``action`` and return, per SQL execution it started, the node
    names of that execution's final physical plan. They are read from
    the SQL status store, so the plans of eager jobs run inside a call
    (quantile passes, checkpoints) are counted too."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def recent_ids() -> list[int]:
        bus.waitUntilEmpty()
        n = store.executionsCount()
        seq = store.executionsList(max(0, n - 64), 64)
        return [seq.apply(i).executionId() for i in range(seq.size())]

    before = max(recent_ids(), default=-1)
    action()
    plans = []
    for eid in recent_ids():
        if eid > before:
            nodes = store.planGraph(eid).allNodes()
            plans.append([nodes.apply(i).name() for i in range(nodes.size())])
    return plans


def test_interaction_features_scans_its_source_once(spark, tmp_path):
    # devices, activeness and the category pivot are one aggregate over
    # log_content, and the customer-grain table is checkpointed before
    # the quantile pass: the call reads the source file once, and a sink
    # write of its output reads only the checkpoint
    import json

    from customer_360_etl_pipeline_on_azure_cloud_spark.plans.interaction import (
        interaction_features,
    )

    src = tmp_path / "log_content.json"
    apps = ("CHANNEL", "VOD", "SPORT", "RELAX", "CHILD", "MYTV")
    src.write_text("".join(
        json.dumps({
            "Contract": f"CT{i % 23}", "Mac": f"m{i % 5}",
            "AppName": apps[i % len(apps)], "TotalDuration": i,
            "Date": f"2022-04-{1 + i % 28:02d}",
        }) + "\n"
        for i in range(400)
    ))
    lc = spark.read.schema(
        "Contract string, Mac string, AppName string, "
        "TotalDuration long, Date date"
    ).json(str(src))

    def json_scans(plans):
        return sum(n.startswith("Scan json") for p in plans for n in p)

    out = []
    call = _sql_plans(spark, lambda: out.append(interaction_features(lc)))
    assert json_scans(call) == 1
    assert not any("Join" in n for p in call for n in p)

    sink = str(tmp_path / "sink")
    write = _sql_plans(spark, lambda: out[0].write.parquet(sink))
    assert json_scans(call + write) == 1
    assert spark.read.parquet(sink).count() == out[0].count() > 0
