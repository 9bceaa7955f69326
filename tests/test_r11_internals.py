"""r11 optimization-internals pins: every operator whose INTERNALS
changed this round is pinned result-identical against either the
pre-change formulation (re-implemented here as the reference) or a
parameter sweep over the new execution knob.

* ``pagerank_fixed`` / ``pagerank_weighted`` gained
  ``checkpoint_interval`` (lineage-truncation cadence, r10 verdict
  item 6) — a pure execution knob; ranks must be identical at every
  interval, including 1 (the old per-round behavior).
* ``exact_cross_pairs`` was rewritten from "all exact Jaccard pairs,
  then drop same-rank ends" to a cross-rank-only shared-shingle join
  (``a.rk > b.rk`` inside the join) — the test re-implements the old
  formulation on top of ``jaccard_pairs(exact=True)`` and requires
  exact set equality, including the 3-valued-rank orientation.
* ``kmeans_distributed`` gained ``prepared=`` (caller-supplied
  persisted ``(id, vec, qvec)`` frame, the IVFPQ seed/Lloyd shared
  scan) — centroids must be bit-identical to the self-built frame.
* ``pq_codebooks_distributed`` now REQUIRES ``coarse_cents`` alongside
  ``prepared_resid`` (ADVICE r10: a stale/mismatched assignment frame
  silently trained wrong codebooks before).
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from conftest import SF_SMALL

from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
    exact_cross_pairs,
    jaccard_pairs,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
    pagerank_fixed,
    pagerank_weighted,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
    _as_double,
    _quantized,
    kmeans_distributed,
    pq_codebooks_distributed,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
    load_table,
)


# --- pagerank checkpoint_interval ------------------------------------------

EDGES = [
    (1, 2), (1, 3), (2, 3), (3, 1), (3, 4), (4, 1), (4, 5), (5, 1), (2, 4),
]
WEDGES = [(u, v, (u * 3 + v) % 7 + 1) for u, v in EDGES]


@pytest.mark.parametrize("interval", [1, 2, 3, 7])
def test_pagerank_fixed_interval_invariant(spark, interval):
    e = spark.createDataFrame(EDGES, "src long, dst long")
    base = {
        r["id"]: r["rank_fp"]
        for r in pagerank_fixed(e, checkpoint_interval=1).collect()
    }
    got = {
        r["id"]: r["rank_fp"]
        for r in pagerank_fixed(e, checkpoint_interval=interval).collect()
    }
    assert got == base


@pytest.mark.parametrize("interval", [1, 2, 3, 7])
def test_pagerank_weighted_interval_invariant(spark, interval):
    e = spark.createDataFrame(WEDGES, "u long, v long, w long")
    base = {
        r["id"]: r["rank_fp"]
        for r in pagerank_weighted(e, checkpoint_interval=1).collect()
    }
    got = {
        r["id"]: r["rank_fp"]
        for r in pagerank_weighted(e, checkpoint_interval=interval).collect()
    }
    assert got == base


def test_pagerank_interval_guard(spark):
    # the argument is checked before any persist or eager checkpoint:
    # a bad interval runs no job and leaves nothing persisted
    sc = spark.sparkContext
    persisted = set(sc._jsc.getPersistentRDDs().keySet())
    e = spark.createDataFrame(EDGES, "src long, dst long")
    we = spark.createDataFrame(WEDGES, "u long, v long, w long")
    sc.setJobGroup("pagerank_interval_guard", "bad checkpoint_interval")
    try:
        with pytest.raises(ValueError, match="checkpoint_interval"):
            pagerank_fixed(e, checkpoint_interval=0)
        with pytest.raises(ValueError, match="checkpoint_interval"):
            pagerank_weighted(we, checkpoint_interval=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("pagerank_interval_guard")) == []
    assert set(sc._jsc.getPersistentRDDs().keySet()) == persisted


# --- exact_cross_pairs cross-rank-only join ---------------------------------


def _old_exact_cross(docs, rank_expr):
    """The pre-r11 formulation: the FULL exact pair set, rank attached
    after the fact, same-rank pairs dropped, later end first."""
    ex = jaccard_pairs(docs, exact=True)
    ids = docs.select(F.col("doc_id").alias("__id"), rank_expr.alias("__rk"))
    ra = ids.select(F.col("__id").alias("id_a"), F.col("__rk").alias("__rka"))
    rb = ids.select(F.col("__id").alias("id_b"), F.col("__rk").alias("__rkb"))
    j = ex.join(ra, "id_a").join(rb, "id_b").filter(
        F.col("__rka") != F.col("__rkb")
    )
    a_newer = F.col("__rka") > F.col("__rkb")
    return j.select(
        F.when(a_newer, F.col("id_a")).otherwise(F.col("id_b")).alias("new_id"),
        F.when(a_newer, F.col("id_b")).otherwise(F.col("id_a")).alias("corpus_id"),
        "inter",
        "uni",
    )


def _docs_with_dups(spark):
    # overlapping 3-shingle texts spread across three arrival ranks so
    # both cross-rank (kept) and same-rank (dropped) pairs exist
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = []
    for i in range(12):
        words = base.split()
        if i % 4 == 3:
            words = words[:5] + ["iota"]  # partial overlap
        rows.append((i, " ".join(words)))
    rows.append((100, "nothing in common with the others at all here"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_cross_pairs_matches_old_formulation(spark):
    docs = _docs_with_dups(spark)
    rank = (
        F.when(F.col("doc_id") % 10 == 0, 1)
        .when(F.col("doc_id") % 5 == 0, 2)
        .otherwise(0)
    )
    new = sorted(tuple(r) for r in exact_cross_pairs(docs, rank).collect())
    old = sorted(tuple(r) for r in _old_exact_cross(docs, rank).collect())
    assert new == old
    assert len(new) > 0  # non-vacuous: cross-rank dup pairs exist
    # and same-rank pairs were genuinely in scope to be dropped
    full = jaccard_pairs(docs, exact=True).count()
    assert full > len(new)


def test_exact_cross_pairs_binary_rank(spark):
    docs = _docs_with_dups(spark)
    rank = (F.col("doc_id") % 5 == 0).cast("int")
    new = sorted(tuple(r) for r in exact_cross_pairs(docs, rank).collect())
    old = sorted(tuple(r) for r in _old_exact_cross(docs, rank).collect())
    assert new == old and len(new) > 0


# --- kmeans_distributed prepared= -------------------------------------------


def test_kmeans_prepared_frame_bit_identical(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    base = kmeans_distributed(
        emb, k=4, id_col="vec_id", vec_col="embedding", iters=2
    )
    e = emb.select(
        F.col("vec_id").alias("id"),
        _as_double(F.col("embedding")).alias("vec"),
        _quantized("embedding", 1 << 20).alias("qvec"),
    ).persist()
    try:
        via_prepared = kmeans_distributed(
            emb, k=4, id_col="vec_id", vec_col="embedding", iters=2,
            prepared=e,
        )
    finally:
        e.unpersist()
    assert np.array_equal(base, via_prepared)


# --- cosine_topk_ivfpq distributed-fit encode reuse --------------------------


def test_adhoc_ivfpq_distributed_matches_rescan_construction(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        _ivfpq_encode,
        _ivfpq_fit,
        _ivfpq_probe,
        cosine_topk_ivfpq,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    got = sorted(
        tuple(r)
        for r in cosine_topk_ivfpq(
            emb, queries, k=3, n_centroids=8, nprobe=4, m=4, ksub=8,
            codebook_fit="distributed",
        ).collect()
    )
    # the pre-r11 construction: same fit, encode re-scans the corpus
    cents, books = _ivfpq_fit(
        emb, 8, 4, 8, 2000, "vec_id", "embedding",
        codebook_fit="distributed",
    )
    coded = _ivfpq_encode(emb, cents, books, "vec_id", "embedding")
    ref = sorted(
        tuple(r)
        for r in _ivfpq_probe(
            coded, cents, books, emb, queries, 3, 4, 192,
            "vec_id", "embedding", True,
        ).collect()
    )
    assert got == ref and len(got) > 0


# --- pq_codebooks_distributed guard ------------------------------------------


def test_pq_prepared_resid_requires_coarse_cents(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    fake = emb.select(
        F.col("vec_id").alias("id"),
        _as_double(F.col("embedding")).alias("resid"),
    )
    with pytest.raises(ValueError, match="coarse_cents"):
        pq_codebooks_distributed(
            emb, 4, 8, id_col="vec_id", vec_col="embedding",
            prepared_resid=fake, coarse_cents=None,
        )


def test_pq_prepared_resid_dim_checked_with_init(spark):
    # residuals of dim 6 against a dim-4 coarse quantizer: refused even
    # when explicit init codebooks skip the init sample
    fake = spark.createDataFrame(
        [(i, [float(i + j) for j in range(6)]) for i in range(8)],
        "id long, resid array<double>",
    )
    with pytest.raises(ValueError, match="prepared_resid dim 6"):
        pq_codebooks_distributed(
            None, 2, 2, prepared_resid=fake,
            coarse_cents=np.zeros((2, 4)), init=np.zeros((2, 2, 2)),
        )
