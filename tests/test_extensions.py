"""Behavioral tests for the approximate/rows-only extension operators:
LSH recall against exact baselines, SimHash sanity, multimodal plumbing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL

from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_near_pairs,
    simhash_table,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMALL, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMALL, "embeddings").cache()


def test_minhash_lsh_recall_vs_exact_jaccard(docs):
    exact = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, n=3, threshold_pct=30).collect()
    }
    assert exact, "testdata should contain planted near-duplicates"
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, num_hashes=32, bands=8, verify_threshold_pct=30, exact=True
        ).collect()
    }
    # banded LSH at b=8,r=4 catches j>=0.3 pairs with high probability;
    # the planted dups are j~0.95+ where recall is ~1.
    high = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, n=3, threshold_pct=80).collect()
    }
    assert high <= lsh, "LSH must catch all very-high-similarity pairs"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_exact_verify_pairs_matches_exact_self_join(docs):
    """exact_verify_pairs is the precision half of the r9 contract
    oracles: fed the RAW banding candidates it must return exactly the
    candidates whose exact Jaccard clears the threshold — i.e. the
    intersection of the candidate set with jaccard_pairs' exact set,
    including identical (inter, uni) counts (two independent
    implementations of the same ratio)."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        exact_verify_pairs,
    )

    cand = minhash_lsh_pairs(
        docs, num_hashes=32, bands=8, verify_threshold_pct=None, exact=True
    ).select("id_a", "id_b")
    verified = {
        (r["id_a"], r["id_b"]): (r["inter"], r["uni"])
        for r in exact_verify_pairs(docs, cand, threshold_pct=30).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): (r["inter"], r["uni"])
        for r in jaccard_pairs(docs, n=3, threshold_pct=30).collect()
    }
    cand_set = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert verified == {
        p: c for p, c in exact.items() if p in cand_set
    }
    assert verified, "planted near-dups should survive verification"
    # below-threshold candidates must be rejected: re-verify at a
    # higher bar and check strict shrinkage toward the exact >=80% set
    strict = {
        (r["id_a"], r["id_b"])
        for r in exact_verify_pairs(docs, cand, threshold_pct=80).collect()
    }
    exact80 = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, n=3, threshold_pct=80).collect()
    }
    assert strict == {p for p in exact80 if p in cand_set}


def test_simhash_flags_near_identical_docs(spark, docs):
    sim = simhash_table(docs)
    assert sim.count() == docs.count()
    pairs = simhash_near_pairs(sim, max_hamming=3).collect()
    # near-identical planted dups should collide within small hamming
    exact = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, n=3, threshold_pct=90).collect()
    }
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    if exact:
        overlap = len(exact & got) / len(exact)
        assert overlap >= 0.5, f"simhash missed too many near-identical pairs: {overlap}"


def test_ann_lsh_recall_vs_bruteforce(emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_lsh(
            emb, queries, dim=64, k=5, nbits=4, tables=8
        ).collect()
    }
    # testdata embeddings are UNIFORM RANDOM (top-1 cos ~0.37, no planted
    # clusters), the hardest case for LSH; (b=4, L=8) predicts ~0.6-0.7
    # recall at ~50% candidate fraction. Real corpora with actual
    # neighbor structure sit far above this.
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"multi-table SRP-LSH recall too low: {recall}"


def test_lsh_multiprobe_dominates_single_probe(emb):
    """Multi-probe LSH (r7 verdict item 4): probing the lowest-margin
    bit-flip buckets only ADDS candidates, and the exact re-rank over a
    candidate superset can only improve — so recall@5 at probes=2 must
    be >= probes=0 on the same corpus, the probe sequence is a pure
    function of the vector (split-invariant), and every returned pair
    found by single-probe whose rank improves stays inside the
    superset's exact ordering."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        srp_buckets_multiprobe,
    )

    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(emb, queries, k=5).collect()
    }

    def recall(probes):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk_lsh(
                emb, queries, dim=64, k=5, nbits=4, tables=8, probes=probes
            ).collect()
        }
        return len(exact & approx) / len(exact)

    r0, r2 = recall(0), recall(2)
    assert r2 >= r0, f"multi-probe recall {r2} below single-probe {r0}"
    assert r2 >= 0.7, f"probes=2 recall too low on noise corpus: {r2}"

    # split invariance of the multi-probe result
    a = sorted(
        map(
            tuple,
            cosine_topk_lsh(
                emb, queries, dim=64, k=5, nbits=4, tables=8, probes=2
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            cosine_topk_lsh(
                emb.repartition(9), queries, dim=64, k=5, nbits=4,
                tables=8, probes=2,
            ).collect(),
        )
    )
    assert a == b

    # bucket-list shape contract: per table, 1+probes buckets, base
    # first, each perturbation one bit-flip away from the base
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        make_hyperplanes,
        with_norm,
    )

    tbls = [make_hyperplanes(64, 4, seed=7 + 1000 * t) for t in range(3)]
    e = with_norm(queries, "embedding").select(
        F.col("vec_id"), F.col("__vec")
    )
    row = srp_buckets_multiprobe(e, tbls, probes=2).first()
    assert len(row["__buckets"]) == 3
    for per_table in row["__buckets"]:
        assert len(per_table) == 3
        base = per_table[0]
        for alt in per_table[1:]:
            x = base ^ alt
            assert x != 0 and (x & (x - 1)) == 0  # exactly one bit flipped


def test_lsh_is_deterministic(emb):
    queries = emb.filter(F.col("vec_id") < 10)
    a = sorted(
        map(tuple, cosine_topk_lsh(emb, queries, dim=64, k=5, nbits=4, tables=4).collect())
    )
    b = sorted(
        map(tuple, cosine_topk_lsh(emb, queries, dim=64, k=5, nbits=4, tables=4).collect())
    )
    assert a == b


def test_ann_ivf_recall_vs_bruteforce(emb):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        cosine_topk_ivf,
    )

    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_ivf(
            emb, queries, k=5, n_centroids=16, nprobe=6
        ).collect()
    }
    # uniform-random embeddings again (worst case); nprobe=6/16 probes
    # ~38% of cells — L2 cells only partially align with cosine
    # neighbors on this distribution
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF recall too low: {recall}"
    # determinism
    again = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_ivf(
            emb, queries, k=5, n_centroids=16, nprobe=6
        ).collect()
    }
    assert approx == again


# --- hot-shingle cap (stop-shingle filter) ----------------------------------


def test_jaccard_max_df_generous_cap_is_exact(docs):
    """A cap above every observed document frequency must not change the
    pair set — the stop-shingle filter only narrows semantics when it
    actually drops shingles."""
    exact = {
        tuple(r) for r in jaccard_pairs(docs, n=3, threshold_pct=30).collect()
    }
    capped = {
        tuple(r)
        for r in jaccard_pairs(
            docs, n=3, threshold_pct=30, max_df=10**9
        ).collect()
    }
    assert capped == exact


def test_jaccard_max_df_drops_ubiquitous_shingle(spark):
    """With a boilerplate shingle shared by every doc, the capped variant
    must (a) not pair docs whose only overlap is the boilerplate and
    (b) still pair genuine near-duplicates."""
    boiler = "terms of service apply here"
    rows = [
        (1, f"alpha beta gamma delta epsilon zeta {boiler}"),
        (2, f"one two three four five six {boiler}"),
        (3, f"alpha beta gamma delta epsilon eta {boiler}"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, n=3, threshold_pct=20).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(
            docs, n=3, threshold_pct=20, max_df=2
        ).collect()
    }
    assert (1, 2) in uncapped  # boilerplate alone clears 20% uncapped
    assert (1, 2) not in capped  # ...but is stop-filtered under the cap
    assert (1, 3) in capped  # genuine near-dups survive the cap


def test_jaccard_uncapped_warns_capped_and_exact_do_not(spark):
    """Scale-safety contract: no max_df and no exact=True -> warn; either
    knob silences it (the warning is advice, results are unchanged)."""
    import warnings as _w

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], ["doc_id", "text"]
    )
    with pytest.warns(UserWarning, match="without max_df"):
        jaccard_pairs(docs, n=3, threshold_pct=30)
    with _w.catch_warnings():
        _w.simplefilter("error")
        jaccard_pairs(docs, n=3, threshold_pct=30, exact=True)
        jaccard_pairs(docs, n=3, threshold_pct=30, max_df=100)


@pytest.mark.parametrize("cap", ["jaccard", "minhash_join"])
def test_jaccard_max_df_plan_has_broadcast_anti_join(docs, cap):
    """Pin the scale shape: the stop-shingle filter must be a BROADCAST
    left-anti join (map-side probe), not a shuffled join of the full
    shingle table against the hot list. Uses the un-finalized plan
    builder because finalize()'s localCheckpoint hides the lineage.
    The probe's ``max_bucket`` cap is the same hot-key cap and must
    take the same form."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        _jaccard_pairs_plan,
        _minhash_lsh_join_plan,
        minhash_index,
    )

    if cap == "jaccard":
        out, sh_all = _jaccard_pairs_plan(docs, "doc_id", "text", 3, 30, 10**9)
    else:
        idx = minhash_index(docs.filter(F.col("doc_id") % 5 != 0))
        out, sh_all = _minhash_lsh_join_plan(
            docs.filter(F.col("doc_id") % 5 == 0), idx, "doc_id", "text",
            32, 8, 3, 30, False, max_bucket=10**9,
        )
    try:
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        sh_all.unpersist()
    assert "LeftAnti" in plan and "Broadcast" in plan


# --- hot-bucket cap (banded MinHash, VERDICT r9 item 4) ----------------------


def test_minhash_max_bucket_generous_cap_is_exact(docs):
    """A cap above every observed bucket size must not change the
    candidate-pair set — the hot-bucket filter only narrows semantics
    when it actually drops buckets (twin of the max_df property)."""
    exact = {
        tuple(r)
        for r in minhash_lsh_pairs(
            docs, num_hashes=32, bands=8, verify_threshold_pct=30, exact=True
        ).collect()
    }
    capped = {
        tuple(r)
        for r in minhash_lsh_pairs(
            docs, num_hashes=32, bands=8, verify_threshold_pct=30,
            max_bucket=10**9,
        ).collect()
    }
    assert capped == exact


def test_minhash_max_bucket_bounds_identical_doc_blowup(spark):
    """The 100 TB hazard the cap exists for: ~1k byte-identical
    boilerplate docs share one signature, land in ONE (band, bhash)
    bucket per band, and the uncapped self-join emits B*(B-1)/2
    candidates. With the cap: zero candidates from the hot family,
    genuine small near-dup pairs untouched, and the documented
    mitigation (dedup_exact pre-pass) catches the identical family
    exactly and linearly."""
    from pyspark.sql import functions as F

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        dedup_exact,
    )

    n_boiler = 1000
    boiler = [(i, "terms of service apply to every request made here")
              for i in range(n_boiler)]
    near = [
        (10_001, "alpha beta gamma delta epsilon zeta eta theta"),
        (10_002, "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    docs = spark.createDataFrame(boiler + near, ["doc_id", "text"])

    uncapped = minhash_lsh_pairs(
        docs, num_hashes=32, bands=8, verify_threshold_pct=None, exact=True
    ).count()
    assert uncapped >= n_boiler * (n_boiler - 1) // 2  # the quadratic blowup

    capped = minhash_lsh_pairs(
        docs, num_hashes=32, bands=8, verify_threshold_pct=None,
        max_bucket=100,
    )
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (10_001, 10_002) in pairs  # small genuine bucket survives
    # bounded: nothing from the hot family; at most cap^2/2 per bucket
    assert len(pairs) == 1

    # mitigation: the identical family is one exact-dedup group
    groups = dedup_exact(docs, F.xxhash64("text")).collect()
    boiler_group = [g for g in groups if g["n_copies"] == n_boiler]
    assert len(boiler_group) == 1 and boiler_group[0]["keeper_doc_id"] == 0


def test_minhash_uncapped_warns_capped_and_exact_do_not(spark):
    """Scale-safety contract, mirroring jaccard_pairs: no max_bucket and
    no exact=True -> warn; either knob silences it."""
    import warnings as _w

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], ["doc_id", "text"]
    )
    with pytest.warns(UserWarning, match="without max_bucket"):
        minhash_lsh_pairs(docs, num_hashes=8, bands=4)
    with _w.catch_warnings():
        _w.simplefilter("error")
        minhash_lsh_pairs(docs, num_hashes=8, bands=4, exact=True)
        minhash_lsh_pairs(docs, num_hashes=8, bands=4, max_bucket=100)


def test_minhash_join_max_bucket_caps_corpus_hot_bucket(spark):
    """Cross-probe twin: a hot corpus bucket (many identical corpus
    docs) stops contributing candidates under the cap while normal
    corpus matches survive."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        minhash_index,
        minhash_lsh_join,
    )

    corpus_rows = [(i, "terms of service apply to every request made here")
                   for i in range(500)]
    corpus_rows.append((9_000, "alpha beta gamma delta epsilon zeta eta theta"))
    new_rows = [
        (20_000, "terms of service apply to every request made here"),
        (20_001, "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    idx = minhash_index(corpus)

    uncapped = minhash_lsh_join(
        new, idx, verify_threshold_pct=None
    )
    assert uncapped.filter("new_id = 20000").count() == 500

    capped = {
        (r["new_id"], r["corpus_id"])
        for r in minhash_lsh_join(
            new, idx, verify_threshold_pct=None, max_bucket=100
        ).collect()
    }
    assert (20_001, 9_000) in capped  # normal bucket survives
    assert not any(n == 20_000 for n, _ in capped)  # hot family capped


# --- incremental corpus dedup (minhash_index + minhash_lsh_join) ------------


def test_incremental_dedup_matches_cross_split_exact_jaccard(docs):
    """The coincidence the driver oracle relies on: verified LSH pairs of
    (new batch vs corpus index) equal the exact 3-gram Jaccard >= 30%
    pairs restricted to the split boundary."""
    from pyspark.sql import functions as F

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        minhash_index,
        minhash_lsh_join,
    )

    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    got = {
        (r["new_id"], r["corpus_id"])
        for r in minhash_lsh_join(new, minhash_index(corpus)).collect()
    }
    assert got, "split should cross planted near-dup pairs"
    exact_cross = {
        (a, b) if a % 5 == 0 else (b, a)
        for a, b in (
            (r["id_a"], r["id_b"])
            for r in jaccard_pairs(docs, n=3, threshold_pct=30).collect()
        )
        if (a % 5 == 0) != (b % 5 == 0)
    }
    assert got == exact_cross


def test_incremental_dedup_candidate_probe_is_broadcast(docs):
    """Pin the scale shape: the new batch's band rows must be BROADCAST
    into the candidate probe so the corpus index is scanned once and
    never shuffled."""
    from pyspark.sql import functions as F

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        _minhash_lsh_join_plan,
        minhash_index,
    )

    new = docs.filter(F.col("doc_id") % 5 == 0)
    idx = minhash_index(docs.filter(F.col("doc_id") % 5 != 0))
    out, new_sig = _minhash_lsh_join_plan(
        new, idx, "doc_id", "text", 32, 8, 3, 30, True
    )
    try:
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        new_sig.unpersist()
    assert "BroadcastHashJoin" in plan


# --- multi-query retrieval + rank fusion -------------------------------------


def test_bm25_multi_agrees_with_single_query_ranking(docs):
    """bm25_topk_multi's per-query ranking must equal the single-query
    bm25_topk ranking for the same terms (same idf, same score algebra,
    same tiebreak) on docs that match at least one term."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.text import (
        bm25_topk,
        bm25_topk_multi,
    )
    from pyspark.sql import Window as W

    terms = ["spark", "hash", "join"]
    single = bm25_topk(docs, terms=terms, k=10)
    wl = W.orderBy(F.col("score").desc(), F.col("doc_id"))
    single_ranked = [
        (r["doc_id"], r["rk"])
        for r in single.select(
            "doc_id", F.row_number().over(wl).cast("long").alias("rk")
        ).collect()
    ]
    multi = bm25_topk_multi(docs, {7: terms}, k=10)
    got = [
        (r["doc_id"], r["rank"])
        for r in multi.orderBy("rank").collect()
        if r["query_id"] == 7
    ]
    assert got == single_ranked


def test_rrf_fuse_multi_query_window_and_absent_ranks(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.fusion import (
        rrf_fuse,
    )

    lex = spark.createDataFrame(
        [(1, 100, 1), (1, 101, 2), (2, 200, 1)],
        "query_id long, doc_id long, rank long",
    )
    vec = spark.createDataFrame(
        [(1, 101, 1), (1, 102, 2), (2, 200, 1)],
        "query_id long, doc_id long, rank long",
    )
    out = rrf_fuse({"lex": lex, "vec": vec}, keys=["query_id"], topn=10)
    rows = {(r["query_id"], r["doc_id"]): r for r in out.collect()}
    # doc 101 appears in both rankings -> fused first for query 1
    assert rows[(1, 101)]["fused_rank"] == 1
    assert rows[(1, 100)]["rank_vec"] == -1  # absent from vector ranking
    assert rows[(1, 102)]["rank_lex"] == -1  # absent from lexical ranking
    # per-query windows: query 2 has its own rank-1
    assert rows[(2, 200)]["fused_rank"] == 1
    # ties (100 vs 102 both have one rank-2 source) break on doc_id
    assert rows[(1, 100)]["fused_rank"] == 2
    assert rows[(1, 102)]["fused_rank"] == 3


def test_rrf_fuse_rejects_empty(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.fusion import (
        rrf_fuse,
    )

    with pytest.raises(ValueError):
        rrf_fuse({})


# --- persisted (bucketed on-disk) MinHash index ------------------------------


@pytest.fixture(scope="module")
def persisted_index(spark, docs):
    """write_minhash_index over the corpus split, opened for reading."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        read_minhash_index,
        write_minhash_index,
    )

    name = "t_mh_idx"
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    write_minhash_index(corpus, name, num_hashes=32, bands=8)
    yield read_minhash_index(spark, name)
    for suffix in ("_sig", "_bands", "_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {name}{suffix}")


def test_persisted_index_matches_inmemory(spark, docs, persisted_index):
    """The on-disk bucketed index must produce EXACTLY the pairs the
    in-memory minhash_index form produces (same hashes, same banding)."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        minhash_index,
        minhash_lsh_join,
    )

    new = docs.filter(F.col("doc_id") % 5 == 0)
    inmem = {
        tuple(r)
        for r in minhash_lsh_join(
            new, minhash_index(docs.filter(F.col("doc_id") % 5 != 0))
        ).collect()
    }
    ondisk = {tuple(r) for r in minhash_lsh_join(new, persisted_index).collect()}
    assert inmem and ondisk == inmem


def test_persisted_index_meta_mismatch_raises(spark, docs, persisted_index):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        minhash_lsh_join,
    )

    new = docs.filter(F.col("doc_id") % 5 == 0)
    with pytest.raises(ValueError, match="probe params"):
        minhash_lsh_join(new, persisted_index, num_hashes=64, bands=16)


def test_persisted_index_probe_no_corpus_exchange(spark, docs, persisted_index):
    """Pin the VERDICT r4 item-1 scale shape: probing the bucketed band
    table with a SHUFFLED (non-broadcast) batch must put the only
    hash-partitioning Exchanges on the batch side and the candidate
    dedup — never over the corpus band rows, whose bucket layout already
    matches the (band, bhash) join keys."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        _band_rows,
        _candidate_probe,
        _signature_table,
    )

    new = docs.filter(F.col("doc_id") % 5 == 0)
    new_sig = _signature_table(new, "doc_id", "text", 32, 3)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        nb = _band_rows(new_sig, 8, 4)
        probe = _candidate_probe(nb, persisted_index.bands, broadcast_new=False)
        plan = probe._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        new_sig.unpersist()
    # scan of the bands table must be bucketed ...
    assert "Bucketed: true" in plan, plan
    # ... and the join + dropDuplicates account for ALL shuffles: batch
    # band rows into the join, candidate pairs into the dedup. A third
    # Exchange would mean the corpus side got shuffled.
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, plan


def test_persisted_index_broadcast_probe_streams_corpus(
    spark, docs, persisted_index
):
    """Default (broadcast) probe over the persisted index: corpus band
    rows are streamed through a BroadcastHashJoin — zero hash-partition
    Exchange before the candidate dedup."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        _band_rows,
        _candidate_probe,
        _signature_table,
    )

    new = docs.filter(F.col("doc_id") % 5 == 0)
    new_sig = _signature_table(new, "doc_id", "text", 32, 3)
    try:
        probe = _candidate_probe(
            _band_rows(new_sig, 8, 4), persisted_index.bands, broadcast_new=True
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
    finally:
        new_sig.unpersist()
    assert "BroadcastHashJoin" in plan
    # only the dropDuplicates shuffle remains
    assert plan.count("Exchange hashpartitioning") <= 1, plan


# --- semantic dedup (SemDeDup-shaped: cells -> cosine -> components) ---------


def test_semantic_dedup_planted_pairs_collapse(spark, emb):
    """Pin the cell-coincidence the driver oracle relies on: every
    planted perturbed copy (cos ~0.99 to its source) must land in its
    source's k-means cell, collapse into a 2-node component with the
    source as survivor, and all untouched originals must stay singleton
    survivors — on this corpus the output is exactly stateable."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        semantic_dedup,
    )

    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = base.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x + 0.02 * F.sin(F.col("vec_id") * 31 + i),
        ).alias("embedding"),
    )
    corpus = base.unionByName(planted)
    rows = {
        r["id"]: (r["component"], r["is_survivor"])
        for r in semantic_dedup(corpus, threshold=0.9).collect()
    }
    n_base = base.count()
    assert len(rows) == n_base + 50
    for i in range(50):
        assert rows[i] == (i, True)  # source survives its pair
        assert rows[i + 1_000_000] == (i, False)  # copy collapses into it
    # spot-check untouched originals stay singleton survivors
    for i in (60, 100, n_base - 1):
        assert rows[i] == (i, True)


def test_semantic_dedup_empty_corpus_raises(spark):
    from pyspark.sql import types as T

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        semantic_dedup,
    )

    empty = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    with pytest.raises(ValueError, match="empty corpus"):
        semantic_dedup(empty)


# --- containment (overlap coefficient) pairs ---------------------------------


def test_containment_catches_excerpt_jaccard_misses(spark):
    """The asymmetric semantics: a short doc fully contained in a long
    one clears a high containment threshold while the same pair fails
    the same Jaccard threshold (union dominated by the long doc)."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        containment_pairs,
    )

    long_doc = " ".join(f"w{i}" for i in range(60))
    excerpt = " ".join(f"w{i}" for i in range(10, 20))  # 10 tokens inside
    docs = spark.createDataFrame(
        [(1, long_doc), (2, excerpt)], ["doc_id", "text"]
    )
    cont = {
        (r["id_a"], r["id_b"])
        for r in containment_pairs(
            docs, n=3, threshold_pct=80, exact=True
        ).collect()
    }
    jac = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(
            docs, n=3, threshold_pct=80, exact=True
        ).collect()
    }
    assert (1, 2) in cont  # excerpt's shingles all inside the long doc
    assert (1, 2) not in jac  # union is ~58 shingles, inter 8 -> ~14%


def test_containment_warns_without_cap(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        containment_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], ["doc_id", "text"]
    )
    with pytest.warns(UserWarning, match="without max_df"):
        containment_pairs(docs, n=3, threshold_pct=50)


# --- distributed k-means + IVF index lifecycle (round 6) --------------------


def _blobs(spark, seed=3):
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = np.array([[5.0] * 8, [-5.0] * 8, [0.0] * 4 + [8.0] * 4])
    pts = np.vstack([c + 0.05 * rng.randn(40, 8) for c in centers])
    rows = [(int(i), [float(x) for x in pts[i]]) for i in range(len(pts))]
    return pts, spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_kmeans_distributed_deterministic_under_partitioning(spark):
    """The registry requirement: identical centroids (bit-exact) under
    any partitioning — integer fixed-point sums make every reduction
    order-free, which float accumulation cannot promise."""
    import numpy as np

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        kmeans_distributed,
    )

    _, df = _blobs(spark)
    c1 = kmeans_distributed(df, k=3, iters=5)
    c2 = kmeans_distributed(df.repartition(7), k=3, iters=5)
    assert np.array_equal(c1, c2)


def test_kmeans_distributed_equals_driver_lloyd_same_init(spark):
    """Equality pin vs the driver-side fit (VERDICT r5 item 2 'Done'
    criterion): with the SAME explicit init, the distributed Lloyd
    rounds converge to the driver Lloyd's centroids (difference bounded
    by the 2^-20 fixed-point quantization, far inside the blob
    separation) and induce the SAME cluster membership."""
    import numpy as np

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        kmeans_distributed,
    )

    pts, df = _blobs(spark)
    init = pts[[0, 40, 80]].astype(np.float64)
    cd = kmeans_distributed(df, k=3, iters=10, init=init)

    cr = init.copy()
    for _ in range(10):
        d = ((pts[:, None, :] - cr[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for c in range(3):
            m = pts[a == c]
            if len(m):
                cr[c] = m.mean(axis=0)
    assert np.allclose(cd, cr, atol=1e-5)
    assign_d = ((pts[:, None, :] - cd[None, :, :]) ** 2).sum(axis=2).argmin(1)
    assign_r = ((pts[:, None, :] - cr[None, :, :]) ** 2).sum(axis=2).argmin(1)
    assert (assign_d == assign_r).all()


def test_kmeans_distributed_k_above_sample_cap(spark):
    """The point of the distributed fit: k beyond the driver-sample cap
    (sample_size // 2). 300 one-hot-ish rows, k=150 — the sample path
    at sample_size=200 would cap at 100 centroids."""
    import numpy as np

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        kmeans_distributed,
    )

    rng = np.random.RandomState(5)
    base = np.eye(150) * 10.0
    pts = np.vstack([base[i % 150] + 0.01 * rng.randn(150) for i in range(300)])
    rows = [(int(i), [float(x) for x in pts[i][:64]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ck = kmeans_distributed(df, k=150, iters=3)
    assert ck.shape == (150, 64)
    assert len(np.unique(np.round(ck, 3), axis=0)) == 150


def test_kmeans_hierarchical_deterministic_under_partitioning(spark):
    """Same registry requirement for the two-level fit: the coarse fit
    is integer-exact, cell membership is exact fixed-point (ties to the
    lowest cell), and each per-cell refit sorts its group by id before
    the pure-numpy fit — so the whole result is a pure function of the
    data set, bit-identical under any split."""
    import numpy as np

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        kmeans_hierarchical,
    )

    _, df = _blobs(spark)
    c1 = kmeans_hierarchical(df, k=6, coarse_opts={"iters": 3, "seed_rounds": 2})
    c2 = kmeans_hierarchical(
        df.repartition(7), k=6, coarse_opts={"iters": 3, "seed_rounds": 2}
    )
    assert np.array_equal(c1, c2)
    assert c1.shape[1] == 8 and 1 <= c1.shape[0] <= 6


def test_kmeans_hierarchical_separates_blobs(spark):
    """Quality pin: with k = the true blob count the two-level fit
    recovers one centroid inside each blob (every point's nearest
    centroid is in its own blob's ball), and k is an upper bound —
    tiny cells emit fewer sub-centroids rather than duplicates."""
    import numpy as np

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        kmeans_hierarchical,
    )

    pts, df = _blobs(spark)
    cents = kmeans_hierarchical(
        df, k=3, k_coarse=3, coarse_opts={"iters": 5, "seed_rounds": 2}
    )
    assert cents.shape == (3, 8)
    truth = np.array([[5.0] * 8, [-5.0] * 8, [0.0] * 4 + [8.0] * 4])
    # each true center has exactly one fitted centroid within 0.5
    d = ((truth[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2) ** 0.5
    assert (d.min(axis=1) < 0.5).all()
    assert len(set(d.argmin(axis=1))) == 3
    # upper-bound contract: k beyond the corpus size cannot duplicate
    few = df.limit(4)
    c_few = kmeans_hierarchical(
        few, k=10, k_coarse=2, coarse_opts={"iters": 2, "seed_rounds": 1}
    )
    assert c_few.shape[0] <= 10


def test_write_ivf_index_rejects_append(spark, emb):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        write_ivf_index,
    )

    with pytest.raises(ValueError, match="append_ivf_index"):
        write_ivf_index(emb, "t_ivf_reject", mode="append")


def test_ivf_append_compact_lifecycle(spark, emb):
    """The IVF lifecycle (VERDICT r5 item 3): append reuses the STORED
    quantizer (centroids/meta byte-identical, bucket spec preserved,
    cells = standing + arrivals exactly); compact_ivf_index leaves
    probe results bit-identical and reduces to one file per bucket."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        append_ivf_index,
        compact_ivf_index,
        cosine_topk_ivf_indexed,
        read_ivf_index,
        write_ivf_index,
    )

    name = "t_ivf_lc"
    standing = emb.filter(F.col("vec_id") % 4 != 3)
    arrivals = emb.filter(F.col("vec_id") % 4 == 3)
    write_ivf_index(standing, name, n_centroids=8, num_buckets=4)
    cents_before = sorted(
        (r.cell, tuple(r.centroid))
        for r in spark.table(f"{name}_centroids").collect()
    )
    append_ivf_index(arrivals, name)
    cents_after = sorted(
        (r.cell, tuple(r.centroid))
        for r in spark.table(f"{name}_centroids").collect()
    )
    assert cents_before == cents_after  # quantizer untouched
    assert spark.table(f"{name}_meta").count() == 1
    assert spark.table(f"{name}_cells").count() == emb.count()

    info = {
        r.col_name.strip(): (r.data_type or "").strip()
        for r in spark.sql(f"DESCRIBE FORMATTED {name}_cells").collect()
    }
    assert int(info["Num Buckets"]) == 4  # bucket spec preserved

    idx = read_ivf_index(spark, name)
    queries = emb.filter(F.col("vec_id") < 5)
    before = sorted(
        tuple(r) for r in cosine_topk_ivf_indexed(idx, queries, k=5).collect()
    )
    files = compact_ivf_index(spark, name)
    assert files[f"{name}_cells"] <= 4  # one file per non-empty bucket
    idx2 = read_ivf_index(spark, name)
    after = sorted(
        tuple(r) for r in cosine_topk_ivf_indexed(idx2, queries, k=5).collect()
    )
    assert before == after  # probe bit-identical across compaction
    info2 = {
        r.col_name.strip(): (r.data_type or "").strip()
        for r in spark.sql(f"DESCRIBE FORMATTED {name}_cells").collect()
    }
    assert int(info2["Num Buckets"]) == 4


def test_ivf_cell_cohesion_detects_drift(spark, emb):
    """The drift audit: appending vectors far from the fitted
    distribution drags the affected cells' mean member-to-centroid
    cosine down — the signal that the quantizer deserves a rebuild."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        append_ivf_index,
        ivf_cell_cohesion,
        write_ivf_index,
    )

    name = "t_ivf_drift"
    write_ivf_index(emb, name, n_centroids=8, num_buckets=4)
    base = ivf_cell_cohesion(spark, name)
    mean_before = base.agg(
        (F.sum(F.col("mean_cos") * F.col("n_members")) / F.sum("n_members"))
        .alias("m")
    ).collect()[0]["m"]
    # drifted arrivals: negated vectors point AWAY from every centroid
    drifted = emb.limit(100).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"), lambda x: -x)
        .alias("embedding"),
    )
    append_ivf_index(drifted, name)
    after = ivf_cell_cohesion(spark, name)
    mean_after = after.agg(
        (F.sum(F.col("mean_cos") * F.col("n_members")) / F.sum("n_members"))
        .alias("m")
    ).collect()[0]["m"]
    assert mean_after < mean_before


def test_pagerank_fixed_rejects_zero_iterations(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
        pagerank_fixed,
    )

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iterations"):
        pagerank_fixed(edges, iterations=0)


def test_semantic_dedup_warns_at_sample_cap(spark):
    """Hitting the driver-sample centroid cap must WARN and point at the
    uncapped distributed fit — silent cell-size growth is the quadratic
    trap the auto sizing exists to prevent."""
    import numpy as np

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = np.random.RandomState(9)
    rows = [
        (int(i), [float(x) for x in rng.randn(8)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.warns(UserWarning, match="distributed"):
        # auto k = ceil(300/2) = 150 > cap = 100//2 = 50
        semantic_dedup(
            df, target_cell_size=2, sample_size=100, threshold=0.99
        ).collect()


def test_winnowing_guarantee_and_pure_python(spark):
    """Winnowing's detection guarantee (Schleimer et al. 2003): any
    shared token run of length >= window + k - 1 must yield at least
    one shared fingerprint.  Also pins the full selection against a
    pure-Python reference (rightmost min per window, md5 gram hashes)."""
    import hashlib
    import random

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        winnow_fingerprints,
        winnowing_pairs,
    )

    K, W = 5, 4
    rng = random.Random(11)
    shared = [f"s{i}" for i in range(K + W - 1)]  # exactly the guarantee length
    docs = []
    for d in range(8):
        toks = [f"w{d}_{i}" for i in range(rng.randint(10, 25))]
        if d in (2, 5):  # plant the shared run in two docs
            at = rng.randint(0, len(toks))
            toks = toks[:at] + shared + toks[at:]
        docs.append((d, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def md5l(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def ref_fps(text):
        t = text.split()
        hs = [md5l(" ".join(t[i : i + K])) for i in range(len(t) - K + 1)]
        out = set()
        for j in range(len(hs) - W + 1):
            best_p, best_v = None, None
            for p in range(j, j + W):
                if best_v is None or hs[p] <= best_v:
                    best_p, best_v = p, hs[p]
            out.add((best_p + 1, best_v))
        return out

    expected = {
        (d, p, fp) for d, text in docs for (p, fp) in ref_fps(text)
        if len(text.split()) - K + 1 >= W
    }
    got = {
        (r.doc_id, r.pos, r.fp)
        for r in winnow_fingerprints(df, k=K, window=W).collect()
    }
    assert got == expected

    pairs = {
        (r.id_a, r.id_b)
        for r in winnowing_pairs(df, k=K, window=W, min_shared=1, max_df=8)
        .collect()
    }
    assert (2, 5) in pairs, "guarantee: shared run >= W+K-1 must be caught"


def test_winnowing_pairs_warns_without_cap(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        winnowing_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i"), (2, "a b c d e f g h j")],
        ["doc_id", "text"],
    )
    with pytest.warns(UserWarning, match="max_df"):
        winnowing_pairs(docs, min_shared=1)


def test_exact_int_sq_dists_paths_agree():
    """The float64 fast path (used when every intermediate provably
    fits in 2^53) must be EXACTLY the int64 matmul's answer inside the
    bound, and the fallback must engage (and stay exact vs big-int
    Python) beyond it."""
    import numpy as np

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        _exact_int_sq_dists,
    )

    rng = np.random.RandomState(2)
    # in-bound: typical fixed-point magnitudes (scale 2^20, |x| ~ 4)
    Q = rng.randint(-(4 << 20), 4 << 20, size=(40, 64)).astype(np.int64)
    C = rng.randint(-(4 << 20), 4 << 20, size=(7, 64)).astype(np.int64)
    fast = _exact_int_sq_dists(Q, C)
    slow = (
        (Q**2).sum(axis=1)[:, None] - 2 * (Q @ C.T) + (C**2).sum(axis=1)[None, :]
    )
    assert np.array_equal(np.asarray(fast, dtype=np.int64), slow)
    # python big-int ground truth on a few entries
    for i, j in ((0, 0), (13, 3), (39, 6)):
        ref = sum((int(a) - int(b)) ** 2 for a, b in zip(Q[i], C[j]))
        assert int(fast[i, j]) == ref

    # out-of-bound magnitudes: 3*d*m^2 >= 2^53 forces the int64 branch
    m = int((2.0**53 / (3 * 4)) ** 0.5) + 10
    Q2 = rng.randint(m - 5, m + 5, size=(6, 4)).astype(np.int64)
    C2 = rng.randint(-m - 5, -m + 5, size=(3, 4)).astype(np.int64)
    D2 = _exact_int_sq_dists(Q2, C2)
    assert D2.dtype == np.int64  # fallback path returns ints directly
    for i in range(6):
        for j in range(3):
            ref = sum((int(a) - int(b)) ** 2 for a, b in zip(Q2[i], C2[j]))
            assert int(D2[i, j]) == ref


def test_winnowing_rightmost_tie_selection(spark):
    """Equal hashes inside a window (repeated grams) must select the
    RIGHTMOST minimum — the Schleimer et al. tie rule the int64
    encoding (h * 2^31 + (2^31 - 1 - pos)) exists to preserve."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        winnow_fingerprints,
    )

    df = spark.createDataFrame([(1, "z z z z")], "doc_id long, text string")
    got = {
        (r.pos, r.fp)
        for r in winnow_fingerprints(df, k=1, window=3).collect()
    }
    import hashlib

    h = int(hashlib.md5(b"z").hexdigest()[:8], 16)
    # windows [1..3] and [2..4]: all hashes equal -> rightmost pos wins
    assert got == {(3, h), (4, h)}


def test_ann_pq_recall_and_split_invariance(emb):
    """PQ/ADC with exact refinement: recall@5 vs brute force on the
    uniform-noise worst case, every refined result inside the exact
    top-20 (the registered summary's claim), and bit-identical output
    under a different partitioning (total-order selections)."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        cosine_topk_bruteforce,
        pq_topk,
    )

    queries = emb.filter(F.col("vec_id") < 10)
    approx = {
        (r.query_id, r.rk, r.neighbor_id)
        for r in pq_topk(emb, queries, k=5).collect()
    }
    pairs = {(q, n) for q, _, n in approx}
    exact5 = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    exact20 = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, queries, k=20).collect()
    }
    assert len(approx) == 50
    assert pairs <= exact20
    recall = len(pairs & exact5) / len(exact5)
    assert recall >= 0.5, f"PQ refined recall too low: {recall}"
    again = {
        (r.query_id, r.rk, r.neighbor_id)
        for r in pq_topk(emb.repartition(13), queries, k=5).collect()
    }
    assert approx == again


def test_pq_codebooks_distributed_equals_driver_lloyd_same_init(spark):
    """Equality pin vs the driver-side per-subspace fit (r6 VERDICT
    item 3 'Done' criterion): with the SAME explicit init, the fused
    distributed rounds converge to driver Lloyd's codebooks per
    subspace (difference bounded by the 2^-20 fixed-point
    quantization) and induce the SAME codes."""
    import numpy as np

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        pq_codebooks_distributed,
    )

    rng = np.random.RandomState(3)
    V = rng.randn(120, 16)
    rows = [(int(i), [float(x) for x in V[i]]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    m, ksub, dsub = 4, 4, 4
    U = V / np.linalg.norm(V, axis=1)[:, None]
    init = np.stack(
        [
            np.ascontiguousarray(U[:ksub, j * dsub : (j + 1) * dsub])
            for j in range(m)
        ]
    )
    bd = pq_codebooks_distributed(df, m, ksub, iters=6, init=init)

    br = init.copy()
    for j in range(m):
        sub = U[:, j * dsub : (j + 1) * dsub]
        cb = br[j].copy()
        for _ in range(6):
            d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(ksub):
                mem = sub[a == c]
                if len(mem):
                    cb[c] = mem.mean(axis=0)
        br[j] = cb
    assert np.allclose(bd, br, atol=1e-4)
    for j in range(m):
        sub = U[:, j * dsub : (j + 1) * dsub]
        ad = ((sub[:, None, :] - bd[j][None, :, :]) ** 2).sum(axis=2).argmin(1)
        ar = ((sub[:, None, :] - br[j][None, :, :]) ** 2).sum(axis=2).argmin(1)
        assert (ad == ar).all()


def test_pq_codebooks_distributed_split_invariant(spark, emb):
    """The registry requirement: bit-identical codebooks under any
    partitioning (hash-ordered init + integer-exact reductions),
    including the residual (coarse_cents) IVFPQ-trainer mode."""
    import numpy as np

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        pq_codebooks_distributed,
    )

    b1 = pq_codebooks_distributed(emb, m=8, ksub=8, iters=2)
    b2 = pq_codebooks_distributed(emb.repartition(7), m=8, ksub=8, iters=2)
    assert b1.shape == (8, 8, 8)
    assert np.array_equal(b1, b2)

    rng = np.random.RandomState(9)
    cents = rng.randn(4, 64)
    cents /= np.linalg.norm(cents, axis=1)[:, None]
    r1 = pq_codebooks_distributed(emb, m=8, ksub=8, iters=2, coarse_cents=cents)
    r2 = pq_codebooks_distributed(
        emb.repartition(5), m=8, ksub=8, iters=2, coarse_cents=cents
    )
    assert np.array_equal(r1, r2)
    assert not np.array_equal(b1, r1)  # residual mode fits different books


def test_pq_codebooks_shape_and_determinism():
    import numpy as np

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        pq_codebooks,
    )

    rng = np.random.RandomState(7)
    S = rng.randn(300, 64)
    b1 = pq_codebooks(S, m=8, ksub=16)
    b2 = pq_codebooks(S.copy(), m=8, ksub=16)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2)
    with pytest.raises(ValueError, match="not divisible"):
        pq_codebooks(S, m=7, ksub=16)


def test_pq_and_ivfpq_precomputed_codebooks(emb):
    """r7 verdict item 1: pq_topk/cosine_topk_ivfpq accept PRECOMPUTED
    quantizers and produce bit-identical results to the in-line fit
    that trained them — the amortization contract that lets a standing
    corpus train once (index build) and probe many times.  Shape
    mismatches are rejected loudly, never silently re-fit."""
    import numpy as np

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        _ivfpq_fit,
        cosine_topk_ivfpq,
        pq_codebooks_distributed,
        pq_topk,
    )

    queries = emb.filter(F.col("vec_id") < 10)
    books = pq_codebooks_distributed(emb, m=8, ksub=16)
    pre = sorted(
        map(tuple, pq_topk(emb, queries, k=5, codebooks=books).collect())
    )
    inline = sorted(
        map(
            tuple,
            pq_topk(emb, queries, k=5, codebook_fit="distributed").collect(),
        )
    )
    assert pre == inline
    with pytest.raises(ValueError, match="codebooks shape"):
        pq_topk(emb, queries, k=5, codebooks=books[:4]).collect()

    cents, rbooks = _ivfpq_fit(
        emb, 16, 8, 16, 2000, "vec_id", "embedding", codebook_fit="sample"
    )
    pre2 = sorted(
        map(
            tuple,
            cosine_topk_ivfpq(
                emb, queries, k=5, n_centroids=16, nprobe=6,
                quantizers=(cents, rbooks),
            ).collect(),
        )
    )
    inline2 = sorted(
        map(
            tuple,
            cosine_topk_ivfpq(
                emb, queries, k=5, n_centroids=16, nprobe=6
            ).collect(),
        )
    )
    assert pre2 == inline2
    with pytest.raises(ValueError, match="quantizers shapes"):
        cosine_topk_ivfpq(
            emb, queries, k=5, quantizers=(cents[:, :32], rbooks)
        ).collect()


def test_ann_ivfpq_recall_and_split_invariance(emb):
    """IVFPQ (cells -> residual-PQ ADC -> exact refine): recall@5 vs
    brute force on uniform noise, every result inside the exact
    top-20, bit-identical under a different partitioning."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivfpq,
    )

    queries = emb.filter(F.col("vec_id") < 10)
    approx = {
        (r.query_id, r.rk, r.neighbor_id)
        for r in cosine_topk_ivfpq(
            emb, queries, k=5, n_centroids=16, nprobe=6
        ).collect()
    }
    pairs = {(q, n) for q, _, n in approx}
    exact5 = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    exact20 = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, queries, k=20).collect()
    }
    assert len(approx) == 50 and pairs <= exact20
    assert len(pairs & exact5) / len(exact5) >= 0.5
    again = {
        (r.query_id, r.rk, r.neighbor_id)
        for r in cosine_topk_ivfpq(
            emb.repartition(11), queries, k=5, n_centroids=16, nprobe=6
        ).collect()
    }
    assert approx == again


def test_ivfpq_index_lifecycle(spark, emb):
    """Persisted IVFPQ: indexed probe bit-identical to the in-memory
    form when built from the same corpus; append encodes arrivals
    under the STORED quantizers (quantizer tables untouched, probe
    serves the full corpus); compaction leaves the probe bit-identical
    with one file per bucket; a fresh build rejects mode='append'."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        append_ivfpq_index,
        compact_ivfpq_index,
        cosine_topk_ivfpq,
        cosine_topk_ivfpq_indexed,
        write_ivfpq_index,
    )

    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = e.filter(F.col("vec_id") < 10)
    # match write_ivfpq_index's distributed-trainer default so the
    # equality pin compares identical quantizers (the in-memory ad-hoc
    # default is the FAISS-standard sample fit — a different, equally
    # valid codebook)
    mem = sorted(
        map(
            tuple,
            cosine_topk_ivfpq(
                e, queries, k=5, n_centroids=16, nprobe=6,
                codebook_fit="distributed",
            ).collect(),
        )
    )
    write_ivfpq_index(e, "t_pytest_ivfpq", n_centroids=16)
    idx = sorted(
        map(
            tuple,
            cosine_topk_ivfpq_indexed(
                "t_pytest_ivfpq", e, queries, k=5, nprobe=6
            ).collect(),
        )
    )
    assert idx == mem

    with pytest.raises(ValueError, match="append_ivfpq_index"):
        write_ivfpq_index(e, "t_pytest_ivfpq", mode="append")

    standing = e.filter(F.col("vec_id") % 4 != 3)
    arrivals = e.filter(F.col("vec_id") % 4 == 3)
    write_ivfpq_index(standing, "t_pytest_ivfpq2", n_centroids=16)
    books_before = sorted(
        map(tuple, spark.table("t_pytest_ivfpq2_books").collect())
    )
    append_ivfpq_index(arrivals, "t_pytest_ivfpq2")
    assert (
        sorted(map(tuple, spark.table("t_pytest_ivfpq2_books").collect()))
        == books_before
    )
    coded = spark.table("t_pytest_ivfpq2_codes")
    assert coded.count() == e.count()
    pre = sorted(
        map(
            tuple,
            cosine_topk_ivfpq_indexed(
                "t_pytest_ivfpq2", e, queries, k=5, nprobe=8
            ).collect(),
        )
    )
    res = compact_ivfpq_index(spark, "t_pytest_ivfpq2")
    post = sorted(
        map(
            tuple,
            cosine_topk_ivfpq_indexed(
                "t_pytest_ivfpq2", e, queries, k=5, nprobe=8
            ).collect(),
        )
    )
    assert post == pre
    assert res["t_pytest_ivfpq2_codes"] <= 8  # one file per bucket
