"""Unit tests for the engine-ops additions: integer fixed-point
PageRank, the one-scan data-quality expectation audit, and hashed
linear-classifier inference.

PageRank and the classifier get THIRD implementations (pure Python,
sharing no expression tree with either engine) so the Spark results are
pinned against independently derived values, not just the DuckDB twin.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
    pagerank_fixed,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.quality import (
    check_referential,
    check_rules,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.text import (
    hashed_linear_score,
)

SCALE = 10**12


def py_pagerank(edges, iterations=3, damping=85, scale=SCALE):
    """Independent reference: same integer recurrence, plain dicts."""
    edges = sorted(set(edges))
    verts = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(verts)
    init = scale // n
    base = ((100 - damping) * init) // 100
    outdeg: dict[int, int] = {}
    for u, _v in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    r = {v: init for v in verts}
    for _ in range(iterations):
        inbound = {v: 0 for v in verts}
        for u, v in edges:
            inbound[v] += r[u] // outdeg[u]
        r = {v: base + (damping * inbound[v]) // 100 for v in verts}
    return r


def run_pagerank(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        row["id"]: row["rank_fp"]
        for row in pagerank_fixed(df, **kw).collect()
    }


def test_pagerank_matches_python_reference(spark):
    # small web: a hub (0) pointed at by everyone, plus a chain
    edges = [(1, 0), (2, 0), (3, 0), (1, 2), (2, 3), (3, 1), (4, 1), (0, 4)]
    got = run_pagerank(spark, edges, iterations=3)
    assert got == py_pagerank(edges, iterations=3)
    # more iterations still match (loop/lineage handling)
    got6 = run_pagerank(spark, edges, iterations=6)
    assert got6 == py_pagerank(edges, iterations=6)


def test_pagerank_hub_outranks_leaves(spark):
    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    got = run_pagerank(spark, edges, iterations=3)
    assert got[0] == max(got.values())
    # leaves 2..5 have identical in-link structure -> identical ranks
    assert len({got[i] for i in range(2, 6)}) == 1


def test_pagerank_dangling_and_duplicate_edges(spark):
    # vertex 2 has no out-edges (dangling); duplicate edges collapse
    edges = [(0, 1), (0, 1), (1, 2), (0, 2)]
    got = run_pagerank(spark, edges, iterations=2)
    assert got == py_pagerank([(0, 1), (1, 2), (0, 2)], iterations=2)
    assert set(got) == {0, 1, 2}


def test_pagerank_symmetric_cycle_is_uniform(spark):
    # 3-cycle both directions: perfectly symmetric -> equal ranks
    edges = [(0, 1), (1, 2), (2, 0), (1, 0), (2, 1), (0, 2)]
    got = run_pagerank(spark, edges, iterations=4)
    assert len(set(got.values())) == 1


def test_check_rules_counts_and_uniqueness(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -5.0, "B"), (2, None, "A"), (4, 3.0, "C")],
        "id long, amount double, code string",
    )
    out = {
        r["rule"]: r
        for r in check_rules(
            df,
            [
                ("amount.positive", F.col("amount") > 0),
                ("code.accepted", F.col("code").isin("A", "B")),
            ],
            unique_keys={"id.unique": ["id"]},
        ).collect()
    }
    assert out["amount.positive"]["violations"] == 2  # -5 and NULL
    assert out["amount.positive"]["total"] == 4
    assert not out["amount.positive"]["passed"]
    assert out["code.accepted"]["violations"] == 1  # 'C'
    assert out["id.unique"]["violations"] == 1  # id=2 twice
    assert all(r["total"] == 4 for r in out.values())


def test_check_rules_all_green(spark):
    df = spark.createDataFrame([(1,), (2,)], "id long")
    rows = check_rules(
        df, [("id.not_null", F.col("id").isNotNull())],
        unique_keys={"id.unique": ["id"]},
    ).collect()
    assert all(r["passed"] and r["violations"] == 0 for r in rows)


def test_check_referential_orphans(spark):
    child = spark.createDataFrame(
        [(1, "x"), (2, "y"), (9, "z"), (9, "w")], "fk long, payload string"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    row = check_referential(
        child, parent, [("fk", "pk")], "child.fk.referential"
    ).collect()[0]
    assert row["total"] == 4
    assert row["violations"] == 2  # both fk=9 rows
    assert not row["passed"]


def py_token_weight(tok: str, mod: int = 2001) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % mod - mod // 2


def test_hashed_linear_score_matches_python(spark):
    docs = [
        (1, "the quick brown fox"),
        (2, "spam spam spam spam spam"),
        (3, ""),
        (4, "  padded   "),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["score"], r["label"])
        for r in hashed_linear_score(df).collect()
    }
    for doc_id, text in docs:
        toks = text.strip().split(" ")  # split on single space, like engines
        expected = sum(py_token_weight(t) for t in toks)
        assert got[doc_id][0] == expected, (doc_id, text)
        assert got[doc_id][1] == ("keep" if expected >= 0 else "drop")


def test_hashed_linear_score_repeated_tokens_accumulate(spark):
    df = spark.createDataFrame([(1, "w"), (2, "w w w")], "doc_id long, text string")
    got = {r["doc_id"]: r["score"] for r in hashed_linear_score(df).collect()}
    assert got[2] == 3 * got[1]


def test_pagerank_plan_stays_bounded(spark):
    """Lineage must not grow with iterations: the explain string of the
    10-iteration result should not be ~5x the 2-iteration one (the
    localCheckpoint-per-round contract)."""
    edges = [(i, (i + 1) % 8) for i in range(8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    short = pagerank_fixed(df, iterations=2)._jdf.queryExecution().toString()
    long = pagerank_fixed(df, iterations=10)._jdf.queryExecution().toString()
    assert len(long) < 3 * len(short)


# --- MinHash index compaction ------------------------------------------------


def test_compact_minhash_index_preserves_probe(spark):
    """Daily appends multiply files per bucket; compaction must collapse
    each table to one file per bucket, keep the bucket spec (plan still
    scans `Bucketed: true`), and leave probe results bit-identical."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        compact_minhash_index,
        minhash_lsh_join,
        read_minhash_index,
        write_minhash_index,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    name = "t_mh_compact"
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    day1 = docs.filter(F.col("doc_id") % 10 == 0)
    probe = docs.filter(
        (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 10 != 0)
    )
    try:
        write_minhash_index(corpus, name, num_hashes=32, bands=8,
                            num_buckets=4)
        write_minhash_index(day1, name, num_hashes=32, bands=8,
                            num_buckets=4, mode="append")
        files_before = len(spark.table(f"{name}_bands").inputFiles())
        assert files_before > 4  # two append jobs -> >1 file per bucket
        before = {
            tuple(r)
            for r in minhash_lsh_join(
                probe, read_minhash_index(spark, name)
            ).collect()
        }
        counts = compact_minhash_index(spark, name)
        assert counts[f"{name}_bands"] <= 4
        assert counts[f"{name}_sig"] <= 4
        idx = read_minhash_index(spark, name)
        after = {
            tuple(r) for r in minhash_lsh_join(probe, idx).collect()
        }
        assert before and after == before
        # bucket spec survived the rewrite: metadata still bucketed
        described = {
            r.col_name.strip(): (r.data_type or "").strip()
            for r in spark.sql(f"DESCRIBE FORMATTED {name}_bands").collect()
        }
        assert described.get("Num Buckets") == "4"
        assert "band" in described.get("Bucket Columns", "")
    finally:
        for suffix in ("_sig", "_bands", "_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {name}{suffix}")
            spark.sql(f"DROP TABLE IF EXISTS {name}{suffix}__compact")


def _mh_index_split(spark):
    """(corpus, day-1 batch, probe batch) of the sf0.001 documents."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    return (
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        docs.filter((F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 10 != 0)),
    )


def _drop_index_tables(spark, name, suffixes):
    for suffix in suffixes:
        for debris in ("", "__compact", "__old"):
            spark.sql(f"DROP TABLE IF EXISTS {name}{suffix}{debris}")


def test_minhash_index_append_keeps_one_meta_row(spark):
    """An append adds no meta row, and an append whose (num_hashes,
    bands, shingle_n) differ from the stored ones is refused before it
    writes anything; a corrupted meta table fails the open."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        read_minhash_index,
        write_minhash_index,
    )

    corpus, day1, _ = _mh_index_split(spark)
    name = "t_mh_append_meta"
    try:
        write_minhash_index(corpus, name, num_hashes=32, bands=8,
                            num_buckets=4)
        write_minhash_index(day1, name, num_hashes=32, bands=8,
                            num_buckets=4, mode="append")
        assert spark.table(f"{name}_meta").count() == 1
        n_sig = spark.table(f"{name}_sig").count()
        with pytest.raises(ValueError, match="append params"):
            write_minhash_index(day1, name, num_hashes=64, bands=8,
                                num_buckets=4, mode="append")
        assert spark.table(f"{name}_sig").count() == n_sig
        assert spark.table(f"{name}_meta").count() == 1
        assert read_minhash_index(spark, name).num_hashes == 32
        spark.createDataFrame(
            [(64, 8, 3)], "num_hashes int, bands int, shingle_n int"
        ).write.mode("append").saveAsTable(f"{name}_meta")
        with pytest.raises(ValueError, match="exactly one"):
            read_minhash_index(spark, name)
    finally:
        _drop_index_tables(spark, name, ("_sig", "_bands", "_meta"))


@pytest.mark.parametrize("num_hashes,bands", [(30, 8), (32, 0)])
@pytest.mark.parametrize(
    "op", ["minhash_lsh_pairs", "write_minhash_index", "minhash_lsh_join"]
)
def test_minhash_band_count_checked_before_side_effects(
    spark, op, num_hashes, bands
):
    """``bands`` must split the signature evenly: a bad count raises
    ValueError before any persist, reset or write (not an assert, which
    ``python -O`` strips, leaving bands that silently drop the trailing
    hashes).  A rebuild with a bad count leaves the standing index
    opening and probing to the same rows."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        minhash_index,
        minhash_lsh_join,
        minhash_lsh_pairs,
        read_minhash_index,
        write_minhash_index,
    )

    corpus, _, batch = _mh_index_split(spark)
    bad = {"num_hashes": num_hashes, "bands": bands}
    if op == "minhash_lsh_pairs":
        with pytest.raises(ValueError, match="bands="):
            minhash_lsh_pairs(corpus, exact=True, **bad)
        return
    if op == "minhash_lsh_join":
        with pytest.raises(ValueError, match="bands="):
            minhash_lsh_join(batch, minhash_index(corpus), **bad)
        return
    name = "t_mh_band_count"

    def probe():
        idx = read_minhash_index(spark, name)
        return sorted(tuple(r) for r in minhash_lsh_join(batch, idx).collect())

    try:
        write_minhash_index(corpus, name, num_buckets=4)
        before = probe()
        assert before
        with pytest.raises(ValueError, match="bands="):
            write_minhash_index(corpus, name, num_buckets=4, **bad)
        assert probe() == before
    finally:
        _drop_index_tables(spark, name, ("_sig", "_bands", "_meta"))


@pytest.mark.parametrize("crash_at", ["rename_out", "rename_in"])
def test_compaction_crash_is_recoverable(spark, monkeypatch, crash_at):
    """A compaction that dies after ``{table}__compact`` is written
    loses no row.  Dying before the swap leaves every row readable under
    the public name; dying between the two renames leaves it under
    ``__old``, which the next compaction renames back.  Either way the
    next compaction succeeds and the probe is bit-identical."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        compact_minhash_index,
        minhash_lsh_join,
        read_minhash_index,
        write_minhash_index,
    )

    corpus, day1, probe = _mh_index_split(spark)
    name = f"t_mh_crash_{crash_at}"
    suffixes = ("_sig", "_bands", "_meta")

    def snapshot():
        idx = read_minhash_index(spark, name)
        pairs = {tuple(r) for r in minhash_lsh_join(probe, idx).collect()}
        return idx.sig.count(), idx.bands.count(), pairs

    try:
        write_minhash_index(corpus, name, num_hashes=32, bands=8,
                            num_buckets=4)
        write_minhash_index(day1, name, num_hashes=32, bands=8,
                            num_buckets=4, mode="append")
        before = snapshot()
        assert before[2]
        crash_stmt = {
            "rename_out": f"RENAME TO {name}_sig__old",
            "rename_in": f"RENAME TO {name}_sig",
        }[crash_at]
        real_sql = spark.sql

        def crashing_sql(query, *args, **kwargs):
            if query.endswith(crash_stmt):
                raise RuntimeError("injected crash")
            return real_sql(query, *args, **kwargs)

        monkeypatch.setattr(spark, "sql", crashing_sql)
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_minhash_index(spark, name)
        monkeypatch.undo()
        assert spark.catalog.tableExists(f"{name}_sig__compact")
        if crash_at == "rename_out":
            assert snapshot() == before
        else:
            assert not spark.catalog.tableExists(f"{name}_sig")
            assert spark.catalog.tableExists(f"{name}_sig__old")
        counts = compact_minhash_index(spark, name)
        assert counts[f"{name}_sig"] <= 4
        assert counts[f"{name}_bands"] <= 4
        assert snapshot() == before
        for suffix in suffixes:
            for debris in ("__compact", "__old"):
                assert not spark.catalog.tableExists(f"{name}{suffix}{debris}")
    finally:
        _drop_index_tables(spark, name, suffixes)


def test_compaction_sees_rows_appended_by_a_stream(spark, tmp_path):
    """``run_foreach_batch`` appends in the stream's cloned session; a
    compaction run from the caller's session, with no manual refresh,
    must keep those rows."""
    import numpy as np

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        compact_minhash_index,
        read_minhash_index,
        write_minhash_index,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        append_ivf_index,
        compact_ivf_index,
        read_ivf_index,
        write_ivf_index,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.streaming.incremental import (
        run_foreach_batch,
        stream_file_source,
    )

    rng = np.random.default_rng(7)
    words = [f"w{i}" for i in range(300)]
    rows = [
        (
            i,
            " ".join(rng.choice(words, 12)),
            [float(x) for x in rng.standard_normal(8)],
        )
        for i in range(240)
    ]
    schema = "doc_id long, text string, embedding array<float>"
    landing = tmp_path / "landing"
    spark.createDataFrame(rows[200:], schema).coalesce(1).write.parquet(
        str(landing)
    )
    base = spark.createDataFrame(rows[:200], schema)
    try:
        write_minhash_index(base, "t_xs_mh", num_buckets=4)
        write_ivf_index(base, "t_xs_ivf", n_centroids=4, num_buckets=4,
                        id_col="doc_id")
        # the caller probes the standing index before the day's ingest
        assert read_minhash_index(spark, "t_xs_mh").sig.count() == 200
        assert read_ivf_index(spark, "t_xs_ivf").assignments.count() == 200

        def append(batch_df, _batch_id):
            write_minhash_index(batch_df, "t_xs_mh", num_buckets=4,
                                mode="append")
            append_ivf_index(batch_df, "t_xs_ivf", id_col="doc_id")

        stream = stream_file_source(spark, str(landing), base.schema)
        run_foreach_batch(stream, str(tmp_path / "ckpt"), append)
        compact_minhash_index(spark, "t_xs_mh")
        compact_ivf_index(spark, "t_xs_ivf")
        spark.catalog.refreshTable("t_xs_mh_sig")
        spark.catalog.refreshTable("t_xs_ivf_cells")
        assert spark.table("t_xs_mh_sig").count() == 240
        assert spark.table("t_xs_ivf_cells").count() == 240
    finally:
        _drop_index_tables(spark, "t_xs_mh", ("_sig", "_bands", "_meta"))
        _drop_index_tables(
            spark, "t_xs_ivf", ("_cells", "_centroids", "_meta")
        )


# --- row-level DQ enforcement (quarantine) -----------------------------------


def test_enforce_rules_tags_and_routes(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.quality import (
        enforce_rules,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -5.0, "C"), (3, None, "A"), (4, 3.0, "B")],
        "id long, amount double, code string",
    )
    tagged = enforce_rules(
        df,
        [
            ("amount.positive", F.col("amount") > 0),
            ("code.accepted", F.col("code").isin("A", "B")),
        ],
    )
    got = {r["id"]: r["failed_rules"] for r in tagged.collect()}
    assert got == {
        1: "",
        2: "amount.positive,code.accepted",
        3: "amount.positive",  # NULL predicate counts as a violation
        4: "",
    }
    good = tagged.filter(F.col("failed_rules") == "")
    bad = tagged.filter(F.col("failed_rules") != "")
    assert good.count() + bad.count() == df.count()


def test_enforce_rules_streaming_gate(spark, tmp_path):
    """The quarantine gate applied per micro-batch (foreachBatch): the
    union of per-batch good/bad routing must equal the one-shot batch
    result — the property that makes the gate safe to run on the
    daily-ingest stream instead of the full corpus."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.quality import (
        enforce_rules,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.streaming.incremental import (
        run_foreach_batch,
        stream_file_source,
    )

    src = tmp_path / "arrivals"
    src.mkdir()
    rows = [(i, float(i % 7) - 1.0) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, amount double")
    # two files -> at least two micro-batches with maxFilesPerTrigger=1
    df.filter(F.col("id") < 20).coalesce(1).write.parquet(str(src / "d1"))
    df.filter(F.col("id") >= 20).coalesce(1).write.parquet(str(src / "d2"))

    rules = [("amount.positive", F.col("amount") > 0)]
    stream = stream_file_source(
        spark, str(src) + "/*", df.schema, max_files_per_trigger=1
    )
    seen_batches = []
    collected = []

    def gate(batch_df, batch_id):
        tagged = enforce_rules(batch_df, rules)
        collected.extend(
            (r["id"], r["failed_rules"]) for r in tagged.collect()
        )
        seen_batches.append(batch_id)

    run_foreach_batch(stream, str(tmp_path / "ckpt"), gate)
    assert len(seen_batches) >= 2  # really delivered incrementally
    one_shot = {
        (r["id"], r["failed_rules"])
        for r in enforce_rules(df, rules).collect()
    }
    assert set(collected) == one_shot and len(collected) == len(rows)


def test_sink_foreach_batch_never_touches_driver(spark, tmp_path):
    """The scale-safe foreachBatch recipe: per-batch results land in
    per-batch parquet directories and the read-back plan is a FileScan
    of the sink — rows never accumulate on the driver, so the pattern
    holds when batch output is data-proportional.  Also pins the
    idempotency contract: rewriting a batch_id directory (the retry
    path) leaves the union unchanged."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.quality import (
        enforce_rules,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.streaming.incremental import (
        read_batch_sink,
        sink_foreach_batch,
        stream_file_source,
    )

    src = tmp_path / "arrivals"
    src.mkdir()
    rows = [(i, float(i % 7) - 1.0) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, amount double")
    df.filter(F.col("id") < 20).coalesce(1).write.parquet(str(src / "d1"))
    df.filter(F.col("id") >= 20).coalesce(1).write.parquet(str(src / "d2"))

    rules = [("amount.positive", F.col("amount") > 0)]
    stream = stream_file_source(
        spark, str(src) + "/*", df.schema, max_files_per_trigger=1
    )
    sink = str(tmp_path / "sink")
    sink_foreach_batch(
        stream,
        str(tmp_path / "ckpt"),
        sink,
        lambda b: enforce_rules(b, rules).filter(F.col("failed_rules") != ""),
    )

    out = read_batch_sink(spark, sink)
    files = out.inputFiles()
    assert files and all("batch_id=" in f for f in files), (
        "result must be a FileScan of the per-batch sink, not driver rows"
    )
    batch_ids = {f.split("batch_id=")[1].split("/")[0] for f in files}
    assert len(batch_ids) >= 2, "expected >=2 micro-batch directories"

    one_shot = {
        (r["id"], r["failed_rules"])
        for r in enforce_rules(df, rules)
        .filter(F.col("failed_rules") != "")
        .collect()
    }
    got = {(r["id"], r["failed_rules"]) for r in out.select("id", "failed_rules").collect()}
    assert got == one_shot

    # retry idempotency: re-deliver batch 0's data under the same
    # batch_id -> overwrite, union unchanged
    bid = sorted(batch_ids)[0]
    redelivered = enforce_rules(
        df.filter(F.col("id") < 20), rules
    ).filter(F.col("failed_rules") != "")
    redelivered.write.mode("overwrite").parquet(f"{sink}/batch_id={bid}")
    again = {
        (r["id"], r["failed_rules"])
        for r in read_batch_sink(spark, sink)
        .select("id", "failed_rules")
        .collect()
    }
    assert again == got


def test_registered_streaming_queries_read_from_sink(spark):
    """The registered streaming foreachBatch demos (the recipe a user
    copies) must return plans that scan the per-batch sink — the
    VERDICT r5 driver-collect anti-pattern stays fixed."""
    from conftest import SF_SMALL

    import __spark_entry__ as em

    from customer_360_etl_pipeline_on_azure_cloud_spark.trainprep_queries import (
        streaming_index_candidates,
    )

    qs = em.queries()
    frames = {
        "streaming_dq_gate": qs["streaming_dq_gate"](spark, SF_SMALL),
        # r9: the registered query wraps the sink scan in the exact-
        # verification contract, so pin the streaming half directly
        "streaming_index_dedup": streaming_index_candidates(spark, SF_SMALL),
    }
    for name, df in frames.items():
        files = df.inputFiles()
        assert files and all("batch_id=" in f for f in files), name
        bids = {f.split("batch_id=")[1].split("/")[0] for f in files}
        assert len(bids) >= 2, f"{name}: expected >=2 micro-batches"


# --- fixed-point Gram matrix -------------------------------------------------


def test_embedding_gram_matches_numpy(spark):
    """Third implementation: numpy integer outer-product accumulation
    over the same fixed-point coordinates."""
    import numpy as np

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        embedding_gram_fixed,
    )

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((50, 6)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["i"], r["j"]): r["gram_fp"]
        for r in embedding_gram_fixed(df, scale=10**6).collect()
    }
    fp = np.round(vecs.astype(np.float64) * 10**6).astype(np.int64)
    gram = fp.T @ fp  # exact: int64, values far below 2^63
    expected = {
        (i, j): int(gram[i, j]) for i in range(6) for j in range(i, 6)
    }
    assert got == expected


def test_embedding_gram_diagonal_is_norm(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        embedding_gram_fixed,
    )

    df = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    got = {
        (r["i"], r["j"]): r["gram_fp"]
        for r in embedding_gram_fixed(df, scale=10).collect()
    }
    # coords scale to (30,40) and (10,0): G = [[1000,1200],[1200,1600]]
    assert got == {(0, 0): 1000, (0, 1): 1200, (1, 1): 1600}


def test_embedding_gram_arrow_equals_sql(spark):
    """The Arrow matmul path must produce the SQL expression path's
    exact integers (shared JVM-side quantization; integer matmul)."""
    import numpy as np

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        embedding_gram_fixed,
    )

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((200, 8)).astype(np.float32) * 3
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    ).repartition(5)
    a = {
        (r["i"], r["j"]): r["gram_fp"]
        for r in embedding_gram_fixed(df, method="arrow").collect()
    }
    b = {
        (r["i"], r["j"]): r["gram_fp"]
        for r in embedding_gram_fixed(df, method="sql").collect()
    }
    assert a == b and len(a) == 8 * 9 // 2


# --- corrupt-record routing on JSON ingest -----------------------------------


def test_read_json_daily_routes_corrupt_records(spark, tmp_path):
    """PERMISSIVE + columnNameOfCorruptRecord: malformed lines land in
    the corrupt column with their raw text, clean rows parse normally,
    and neither is silently dropped — the ingest-side quarantine."""
    from pyspark.sql import types as T

    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.files import (
        read_json_daily,
    )

    day = tmp_path / "20240101.json"
    day.write_text(
        '{"id": 1, "v": "a"}\n'
        "this is not json\n"
        '{"id": 2, "v": "b"}\n'
        '{"id": "oops-not-a-number", "v": "c"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    df = read_json_daily(
        spark, str(tmp_path), 20240101, 20240101,
        schema=schema, corrupt_col="_bad",
    )
    rows = df.collect()
    assert len(rows) == 4  # nothing dropped
    clean = {r["id"]: r["v"] for r in rows if r["_bad"] is None}
    bad = [r["_bad"] for r in rows if r["_bad"] is not None]
    assert clean == {1: "a", 2: "b"}
    assert any("not json" in b for b in bad)
    assert any("oops-not-a-number" in b for b in bad)
    assert all(r["Date"] is not None for r in rows)


def test_read_json_daily_corrupt_col_requires_schema(spark, tmp_path):
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.files import (
        read_json_daily,
    )

    (tmp_path / "20240101.json").write_text('{"id": 1}\n')
    with pytest.raises(ValueError, match="explicit schema"):
        read_json_daily(
            spark, str(tmp_path), 20240101, 20240101, corrupt_col="_bad"
        )


# --- plan-shape pins for the engine-ops queries ------------------------------


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_quarantine_and_classifier_plans_are_narrow(spark):
    """Row-level enforcement and classifier inference must stay pure
    narrow maps: ZERO Exchange nodes — the whole query is scan +
    projection (+ filter), whole-stage codegen."""
    import __spark_entry__ as em

    qs = em.queries()
    sf = "/root/testdata/sf0.001"
    for name in ("orders_quarantine", "quality_classifier_score"):
        plan = _executed_plan(qs[name](spark, sf))
        assert plan.count("Exchange") == 0, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)


def test_dq_and_basket_plans_avoid_sort_merge(spark):
    """The DQ audit's referential leg and basket_rules' support joins
    must resolve as broadcast joins (vertex/parts-sized build sides),
    never SortMergeJoin over the fact table."""
    import __spark_entry__ as em

    qs = em.queries()
    sf = "/root/testdata/sf0.001"
    for name in ("dq_expectations", "basket_rules"):
        df = qs[name](spark, sf)
        df.collect()  # let AQE finalize
        plan = _executed_plan(df)
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "BroadcastHashJoin" in plan, (name, plan)


# --- persisted IVF index -----------------------------------------------------


def test_ivf_indexed_matches_inmemory(spark):
    """The on-disk IVF index must produce BIT-IDENTICAL top-k to the
    in-memory form over the same corpus and params (same deterministic
    centroid sample; parquet roundtrips doubles exactly)."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        cosine_topk_ivf,
        cosine_topk_ivf_indexed,
        read_ivf_index,
        write_ivf_index,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    name = "t_ivf_idx"
    try:
        write_ivf_index(emb, name, n_centroids=8, num_buckets=4)
        idx = read_ivf_index(spark, name)
        assert idx.n_centroids == 8 and len(idx.centroids) == 8
        ondisk = {
            tuple(r)
            for r in cosine_topk_ivf_indexed(
                idx, queries, k=5, nprobe=3
            ).collect()
        }
        inmem = {
            tuple(r)
            for r in cosine_topk_ivf(
                emb, queries, k=5, n_centroids=8, nprobe=3
            ).collect()
        }
        assert ondisk and ondisk == inmem
    finally:
        for suffix in ("_cells", "_centroids", "_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {name}{suffix}")


@pytest.mark.parametrize("kind", ["ivf", "ivfpq"])
@pytest.mark.parametrize("bad", ["fit_mode", "empty_corpus"])
def test_index_rebuild_fits_before_reset(spark, kind, bad):
    """A rebuild whose fit fails (unknown fit mode, empty corpus) raises
    before it drops anything: the standing index still opens and probes
    to the same rows."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators import (
        similarity as sim,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    name = f"t_refit_{kind}_{bad}"
    if kind == "ivf":
        suffixes = ("_cells", "_centroids", "_meta")

        def build(corpus, fit):
            sim.write_ivf_index(corpus, name, n_centroids=4, num_buckets=2,
                                centroid_fit=fit)

        def probe():
            idx = sim.read_ivf_index(spark, name)
            return sim.cosine_topk_ivf_indexed(idx, queries, k=3, nprobe=2)
    else:
        suffixes = ("_codes", "_centroids", "_books", "_meta")

        def build(corpus, fit):
            sim.write_ivfpq_index(corpus, name, n_centroids=4, m=8, ksub=4,
                                  num_buckets=2, codebook_fit=fit)

        def probe():
            return sim.cosine_topk_ivfpq_indexed(name, emb, queries, k=3,
                                                 nprobe=2)

    try:
        build(emb, "sample")
        before = sorted(tuple(r) for r in probe().collect())
        assert before
        corpus, fit = {
            "fit_mode": (emb, "no_such_fit"),
            "empty_corpus": (emb.filter(F.lit(False)), "distributed"),
        }[bad]
        with pytest.raises(ValueError, match="no_such_fit|empty corpus"):
            build(corpus, fit)
        assert sorted(tuple(r) for r in probe().collect()) == before
    finally:
        _drop_index_tables(spark, name, suffixes)


# --- mergeable HLL sketch rollup ---------------------------------------------


def test_hll_rollup_merge_is_partitioning_invariant(spark):
    """The merged-daily HLL estimate must not depend on how days are
    grouped into merge batches (union is register-max / set-union —
    commutative and associative), and must sit within the 5% gate."""
    df = spark.range(50_000).select(
        (F.col("id") % 7).alias("day"), (F.col("id") % 4321).alias("user_id")
    )
    daily = df.groupBy("day").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    est_a = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")
    ).collect()[0]["e"]
    # two-level merge: union within two halves first, then across
    halves = daily.withColumn("h", (F.col("day") % 2)).groupBy("h").agg(
        F.hll_union_agg("sk").alias("sk")
    )
    est_b = halves.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")
    ).collect()[0]["e"]
    assert est_a == est_b
    assert abs(est_a - 4321) * 100 <= 4321 * 5


def test_streaming_quality_gate_reads_from_sink(spark):
    """The trained-classifier streaming gate composes the round-6
    pieces and must keep the scale-safe plan: result is a FileScan of
    the per-batch sink, >= 2 micro-batches."""
    from conftest import SF_SMALL

    import __spark_entry__ as em

    files = em.queries()["streaming_quality_gate"](spark, SF_SMALL).inputFiles()
    assert files and all("batch_id=" in f for f in files)
    bids = {f.split("batch_id=")[1].split("/")[0] for f in files}
    assert len(bids) >= 2


# --- mergeable histogram-sketch quantiles -----------------------------------


def test_histogram_sketch_merge_equals_direct(spark):
    """The mergeability contract: summing per-day sketch counts bin-wise
    must equal sketching the whole period directly — plain integer
    addition, no sketch-state subtleties."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.aggregates import (
        histogram_sketch,
    )

    rows = [(f"d{i % 3}", (i * 37) % 1000) for i in range(200)]
    df = spark.createDataFrame(rows, "day string, v long")
    daily = histogram_sketch(df, "v", ["day"], 0, 1000, 10)
    merged = {
        r.bin: r.s
        for r in daily.groupBy("bin").agg(F.sum("cnt").alias("s")).collect()
    }
    direct = {
        r.bin: r.cnt
        for r in histogram_sketch(
            df.withColumn("g", F.lit("all")), "v", ["g"], 0, 1000, 10
        ).collect()
    }
    assert merged == direct
    assert sum(merged.values()) == 200


def test_histogram_quantiles_bracket_exact_percentile(spark):
    """The emitted [bin_lo, bin_hi) must contain the exact q-th
    percentile (nearest-rank definition) — the one-bin-width error
    bound the operator promises — and a hand-computed tiny case pins
    the ceil arithmetic."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.aggregates import (
        histogram_quantiles,
        histogram_sketch,
    )

    import random

    rng = random.Random(3)
    vals = [rng.randrange(0, 10_000) for _ in range(500)]
    df = spark.createDataFrame(
        [("all", v) for v in vals], "g string, v long"
    )
    sk = histogram_sketch(df, "v", ["g"], 0, 10_000, 25)
    out = histogram_quantiles(sk, ["g"], [50, 90, 99], 0, 10_000, 25)
    got = {r.q_pct: (r.bin_lo, r.bin_hi, r.cum_le, r.total) for r in out.collect()}
    s = sorted(vals)
    for q in (50, 90, 99):
        lo, hi, cum, total = got[q]
        assert total == 500
        exact = s[-(-q * 500 // 100) - 1]  # nearest-rank: ceil(q*n/100)-th
        assert lo <= exact < hi, (q, lo, exact, hi)

    # hand case: 4 values, p50 -> ceil(0.5*4)=2nd value's bin
    tiny = spark.createDataFrame(
        [("g", 5), ("g", 15), ("g", 25), ("g", 35)], "g string, v long"
    )
    tq = histogram_quantiles(
        histogram_sketch(tiny, "v", ["g"], 0, 40, 4), ["g"], [50], 0, 40, 4
    ).collect()[0]
    assert (tq.bin, tq.bin_lo, tq.bin_hi, tq.cum_le, tq.total) == (1, 10, 20, 2, 4)


def test_histogram_sketch_validates_inputs(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.aggregates import (
        histogram_quantiles,
        histogram_sketch,
    )

    df = spark.createDataFrame([("g", 1)], "g string, v long")
    with pytest.raises(ValueError, match="divide evenly"):
        histogram_sketch(df, "v", ["g"], 0, 1000, 7)
    sk = histogram_sketch(df, "v", ["g"], 0, 1000, 10)
    with pytest.raises(ValueError, match="divide evenly"):
        histogram_quantiles(sk, ["g"], [50], 0, 1000, 7)
    with pytest.raises(ValueError, match="\\[1, 100\\]"):
        histogram_quantiles(sk, ["g"], [0], 0, 1000, 10)


def test_k_anonymity_ladder(spark):
    """Generalization ladder: rows in a >=k fine class stay at level 0,
    rows whose fine class is small but whose (a)-class reaches k rise
    to level 1, and rows isolated even at the coarsest level are
    suppressed; class_size reports the chosen class.  Cross-checked
    against a pure-Python reference on the same frame."""
    from collections import Counter

    from pyspark.sql import functions as F

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.quality import (
        k_anonymity_classes,
        k_anonymity_generalize,
    )

    rows = (
        [(i, "a", "x", 0) for i in range(5)]        # fine class of 5 -> level 0
        + [(10 + i, "a", "x", 1) for i in range(2)] # small fine, (a,x) big -> 1
        + [(20 + i, "a", "y", 2) for i in range(3)] # (a,y)=3 <k, (a)=10 -> 2
        + [(30, "b", "z", 3)]                        # alone everywhere -> 3
    )
    df = spark.createDataFrame(rows, "id long, g1 string, g2 string, band long")
    levels = [
        [F.col("g1"), F.col("g2"), F.col("band")],
        [F.col("g1"), F.col("g2")],
        [F.col("g1")],
    ]
    got = {
        r.id: (r.gen_level, r.class_size)
        for r in k_anonymity_generalize(df, "id", levels, k=5).collect()
    }

    c0 = Counter((g1, g2, b) for _, g1, g2, b in rows)
    c1 = Counter((g1, g2) for _, g1, g2, _ in rows)
    c2 = Counter(g1 for _, g1, _, _ in rows)
    for rid, g1, g2, b in rows:
        sizes = [c0[(g1, g2, b)], c1[(g1, g2)], c2[g1]]
        lvl = next((i for i, s in enumerate(sizes) if s >= 5), 3)
        size = sizes[lvl] if lvl < 3 else sizes[-1]
        assert got[rid] == (lvl, size), (rid, got[rid], (lvl, size))

    audit = {
        (r.g1, r.g2, r.band): (r.class_size, r.at_risk)
        for r in k_anonymity_classes(df, ["g1", "g2", "band"], k=5).collect()
    }
    assert audit == {kk: (v, v < 5) for kk, v in c0.items()}


# --- triangle_stats ---------------------------------------------------------


def py_triangles(edges, coeff_scale=10**6):
    """Independent reference: brute-force triangle enumeration over the
    undirected simple graph, plain sets — no orientation trick."""
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj: dict[int, set[int]] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {v: 0 for v in adj}
    for a, b in und:
        for _c in adj[a] & adj[b]:
            # a triangle touches each of its vertices via 2 incident
            # edges, so crediting both endpoints per edge counts every
            # vertex's triangles exactly twice — halved below
            tri[a] += 1
            tri[b] += 1
    out = {}
    for v in adj:
        d = len(adj[v])
        t = tri[v] // 2
        c = (2 * t * coeff_scale) // (d * (d - 1)) if d >= 2 else 0
        out[v] = (d, t, c)
    return out


def run_triangles(spark, edges):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.graph import (
        triangle_stats,
    )

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r["id"]: (r["degree"], r["tri_count"], r["coeff_fp"])
        for r in triangle_stats(df).collect()
    }


def test_triangles_k4_is_fully_clustered(spark):
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = run_triangles(spark, k4)
    # every vertex: degree 3, C(3,2)=3 triangles, coefficient exactly 1
    assert got == {v: (3, 3, 10**6) for v in range(4)}


def test_triangles_star_has_none(spark):
    got = run_triangles(spark, [(0, v) for v in range(1, 6)])
    assert got[0] == (5, 0, 0)
    assert all(got[v] == (1, 0, 0) for v in range(1, 6))


def test_triangles_match_python_reference(spark):
    # two triangles sharing an edge + a pendant chain + duplicate and
    # reversed edge noise (must be deduped/symmetrized away)
    edges = [
        (1, 2), (2, 3), (3, 1), (2, 4), (4, 3), (4, 5), (5, 6),
        (2, 1), (1, 2), (3, 3),
    ]
    assert run_triangles(spark, edges) == py_triangles(edges)


def test_triangles_random_graph_vs_reference(spark):
    import random

    rng = random.Random(7)
    edges = [
        (rng.randrange(30), rng.randrange(30)) for _ in range(150)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    assert run_triangles(spark, edges) == py_triangles(edges)


# --- pareto_front_2d --------------------------------------------------------


def py_pareto(rows):
    """Brute-force dominance reference: rows = (group, mini, maxi, id)."""
    out = []
    for p in rows:
        dominated = any(
            q[0] == p[0]
            and q[1] <= p[1] and q[2] >= p[2]
            and (q[1] < p[1] or q[2] > p[2])
            for q in rows
        )
        if not dominated:
            out.append(p)
    return sorted(out)


def run_pareto(spark, rows):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.windows import (
        pareto_front_2d,
    )

    df = spark.createDataFrame(rows, "g string, price long, size long, id long")
    got = pareto_front_2d(df, minimize="price", maximize="size", group=["g"])
    return sorted(
        (r["g"], r["price"], r["size"], r["id"]) for r in got.collect()
    )


def test_pareto_basic_and_ties(spark):
    rows = [
        ("a", 10, 5, 1),   # front
        ("a", 10, 5, 2),   # exact tie with 1 -> both survive
        ("a", 10, 4, 3),   # dominated by 1 (same price, smaller size)
        ("a", 9, 5, 4),    # dominates 1? cheaper, same size -> 1 and 2 OUT
        ("a", 20, 9, 5),   # front (bigger)
        ("a", 21, 9, 6),   # dominated by 5
        ("b", 21, 9, 7),   # other group: survives alone
    ]
    got = run_pareto(spark, rows)
    assert got == py_pareto(rows)
    assert ("a", 10, 5, 1) not in got and ("a", 9, 5, 4) in got


def test_pareto_random_vs_reference(spark):
    import random

    rng = random.Random(11)
    rows = [
        (
            rng.choice(["x", "y"]),
            rng.randrange(20),
            rng.randrange(20),
            i,
        )
        for i in range(200)
    ]
    assert run_pareto(spark, rows) == py_pareto(rows)


def test_pareto_single_point_and_duplicates(spark):
    rows = [("g", 5, 5, 1), ("g", 5, 5, 2), ("g", 5, 5, 3)]
    assert run_pareto(spark, rows) == py_pareto(rows)


# --- benford_profile --------------------------------------------------------


def test_benford_profile_matches_python(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.quality import (
        BENFORD_PPB,
        benford_profile,
    )

    cents = [100, 150, 199, 2000, 2999, 30000, 99, 1, 0, 917345, 100]
    df = spark.createDataFrame([(c,) for c in cents], "cents long")
    got = {
        r["digit"]: (r["n"], r["obs_ppb"], r["exp_ppb"], r["dev_ppb"])
        for r in benford_profile(df, F.col("cents")).collect()
    }
    kept = [c for c in cents if c >= 100]
    total = len(kept)
    import collections

    ref_n = collections.Counter(int(str(c)[0]) for c in kept)
    assert set(got) == set(range(1, 10))
    for d in range(1, 10):
        n = ref_n.get(d, 0)
        obs = (n * 10**9) // total
        exp = BENFORD_PPB[d]
        assert got[d] == (n, obs, exp, abs(obs - exp)), d


def test_benford_profile_empty_digits_present(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.quality import (
        benford_profile,
    )

    df = spark.createDataFrame([(100,), (100,)], "cents long")
    rows = {r["digit"]: r["n"] for r in benford_profile(df, F.col("cents")).collect()}
    assert rows[1] == 2 and all(rows[d] == 0 for d in range(2, 10))


# --- CUSUM closed form vs textbook recurrence --------------------------------


def test_cusum_closed_form_matches_recurrence(spark):
    """The engine computes S_t = P_t - min(0, running_min P); pin it
    against the plain max(0, S+dev) recurrence on a synthetic series."""
    import datetime

    rng = __import__("random").Random(3)
    days = [
        (datetime.date(2024, 1, 1) + datetime.timedelta(days=i),
         rng.randrange(0, 2000))
        for i in range(60)
    ]
    from pyspark.sql import Window

    df = spark.createDataFrame(days, "day date, rev long")
    ref = sum(r for _, r in days) // len(days)
    j = df.withColumn("dev", (F.col("rev") - F.lit(ref)).cast("long"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    j = (
        j.withColumn("p", F.sum("dev").over(w))
        .withColumn("q", F.sum(-F.col("dev")).over(w))
    )
    got = {
        r["day"]: (r["up"], r["dn"])
        for r in j.withColumn("mp", F.min("p").over(w))
        .withColumn("mq", F.min("q").over(w))
        .select(
            "day",
            (F.col("p") - F.least(F.lit(0).cast("long"), F.col("mp"))).alias("up"),
            (F.col("q") - F.least(F.lit(0).cast("long"), F.col("mq"))).alias("dn"),
        )
        .collect()
    }
    up = dn = 0
    for day, rev in days:
        dev = rev - ref
        up = max(0, up + dev)
        dn = max(0, dn - dev)
        assert got[day] == (up, dn), day


# --- nation_revenue_gini formula ---------------------------------------------


def test_gini_identity_matches_python(spark):
    """Pin the sorted-rank Gini identity used by nation_revenue_gini
    against a direct mean-absolute-difference computation."""
    from pyspark.sql import Window

    rng = __import__("random").Random(5)
    rows = [
        (g, i, rng.randrange(0, 50) if rng.random() < 0.9 else 0)
        for g in ("n1", "n2") for i in range(40)
    ]
    df = spark.createDataFrame(rows, "g string, cid long, units long")
    w = Window.partitionBy("g").orderBy("units", "cid")
    got = {
        r["g"]: r["gini_fp"]
        for r in df.withColumn("i", F.row_number().over(w).cast("long"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("units").alias("t"),
            F.sum(F.col("i") * F.col("units")).alias("six"),
        )
        .select(
            "g",
            F.expr("((2 * six - (n + 1) * t) * 1000000L) div (n * t)")
            .alias("gini_fp"),
        )
        .collect()
    }
    for g in ("n1", "n2"):
        xs = [u for gg, _i, u in rows if gg == g]
        n, t = len(xs), sum(xs)
        # Gini = sum_{i,j} |x_i - x_j| / (2 n^2 mean) = identity below
        mad = sum(abs(a - b) for a in xs for b in xs)
        expected = (mad * 10**6) // (2 * n * t)
        # the rank identity equals the MAD form exactly on integers
        # up to the shared floor: compare the unfloored rationals
        xs_sorted = sorted(xs)
        num = 2 * sum((i + 1) * x for i, x in enumerate(xs_sorted)) - (n + 1) * t
        assert num * 2 * n * t == mad * n * t  # rank identity == MAD identity
        assert got[g] == (num * 10**6) // (n * t)
        assert abs(got[g] - expected) <= 1


def test_pareto_band_prefilter_is_result_neutral(spark):
    """prefilter_bands must never change the skyline — random fuzz
    across band counts, including bands > distinct values and a
    single-value degenerate column."""
    import random

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.windows import (
        pareto_front_2d,
    )

    rng = random.Random(23)
    rows = [
        (rng.choice(["x", "y"]), rng.randrange(100), rng.randrange(100), i)
        for i in range(300)
    ] + [("z", 7, 7, 1000), ("z", 7, 9, 1001)]  # one-value minimize group
    df = spark.createDataFrame(rows, "g string, price long, size long, id long")

    def run(**kw):
        return sorted(
            (r["g"], r["price"], r["size"], r["id"])
            for r in pareto_front_2d(
                df, minimize="price", maximize="size", group=["g"], **kw
            ).collect()
        )

    base = run()
    for bands in (1, 3, 16, 1000):
        assert run(prefilter_bands=bands) == base, bands
    assert base == py_pareto(rows)


# --- order_reconciliation accounting -----------------------------------------


def test_order_reconciliation_accounts_for_every_order(spark):
    """Every order lands in exactly one bucket; the NO_LINEITEMS bucket
    equals the anti-join count; EXACT rows carry zero delta."""
    from conftest import SF_SMALL

    from customer_360_etl_pipeline_on_azure_cloud_spark.analytics_queries import (
        q_order_reconciliation,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    out = q_order_reconciliation(spark, SF_SMALL).collect()
    orders = load_table(spark, SF_SMALL, "orders")
    li = load_table(spark, SF_SMALL, "lineitem")
    n_orders = orders.count()
    n_orphans = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"], "left_anti"
    ).count()
    assert sum(r["n_orders"] for r in out) == n_orders
    assert (
        sum(r["n_orders"] for r in out if r["bucket"] == "NO_LINEITEMS")
        == n_orphans
    )
    for r in out:
        if r["bucket"] in ("NO_LINEITEMS", "EXACT"):
            assert r["sum_abs_delta_e6"] == 0 and r["max_abs_delta_e6"] == 0
        else:
            assert r["max_abs_delta_e6"] > 0
        assert r["sum_abs_delta_e6"] >= r["max_abs_delta_e6"]


def test_order_reconciliation_matches_python_reference(spark):
    """Full bucket report recomputed in pure Python from the same
    integer inputs (cents/pcts taken through the engine's own rounding
    so this pins the join/bucket/aggregate logic as a third
    implementation)."""
    from collections import defaultdict

    from conftest import SF_SMALL

    from customer_360_etl_pipeline_on_azure_cloud_spark.analytics_queries import (
        q_order_reconciliation,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.functions.scalar import (
        money_cents,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey",
        money_cents("l_extendedprice").alias("ext_c"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("disc"),
        F.round(F.col("l_tax") * 100, 0).cast("long").alias("tax"),
    ).collect()
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderstatus",
        money_cents("o_totalprice").alias("cents"),
    ).collect()
    rc: dict[int, int] = defaultdict(int)
    for r in li:
        rc[r["l_orderkey"]] += r["ext_c"] * (100 - r["disc"]) * (100 + r["tax"])
    expected: dict[tuple, list] = defaultdict(lambda: [0, 0, 0])
    for o in orders:
        stored = o["cents"] * 10_000
        if o["o_orderkey"] not in rc:
            bucket, absd = "NO_LINEITEMS", 0
        else:
            d = rc[o["o_orderkey"]] - stored
            absd = abs(d)
            if d == 0:
                bucket = "EXACT"
            elif absd * 100 <= stored:
                bucket = "WITHIN_1PCT"
            elif absd * 10 <= stored:
                bucket = "WITHIN_10PCT"
            else:
                bucket = "OVER_10PCT"
        cell = expected[(o["o_orderstatus"], bucket)]
        cell[0] += 1
        cell[1] += absd
        cell[2] = max(cell[2], absd)
    got = {
        (r["o_orderstatus"], r["bucket"]): [
            r["n_orders"], r["sum_abs_delta_e6"], r["max_abs_delta_e6"]
        ]
        for r in q_order_reconciliation(spark, SF_SMALL).collect()
    }
    assert got == dict(expected)


# --- part_recommendations reference ------------------------------------------


def test_part_recommendations_matches_python_reference(spark):
    """Whole serving list recomputed brute-force in Python: distinct
    baskets -> pair supports -> per-part (supp desc, partkey asc)
    top-3, with the exact rational cosine^2."""
    from collections import defaultdict

    from conftest import SF_SMALL

    from customer_360_etl_pipeline_on_azure_cloud_spark.analytics_queries import (
        q_part_recommendations,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    rows = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect()
    baskets: dict[int, set] = defaultdict(set)
    for r in rows:
        baskets[r["l_orderkey"]].add(r["l_partkey"])
    pair: dict[tuple, int] = defaultdict(int)
    supp: dict[int, int] = defaultdict(int)
    for ps in baskets.values():
        for a in ps:
            supp[a] += 1
            for b in ps:
                if a != b:
                    pair[(a, b)] += 1
    expected = set()
    by_a: dict[int, list] = defaultdict(list)
    for (a, b), s in pair.items():
        if s >= 2:
            by_a[a].append((b, s))
    for a, cands in by_a.items():
        cands.sort(key=lambda t: (-t[1], t[0]))
        for rank, (b, s) in enumerate(cands[:3], start=1):
            expected.add((a, b, rank, s, s * s, supp[a] * supp[b]))
    got = {
        tuple(r)
        for r in q_part_recommendations(spark, SF_SMALL).collect()
    }
    assert got == expected


# --- revenue_backtest reference ----------------------------------------------


def test_revenue_backtest_matches_python_reference(spark):
    """Champion/challenger pick recomputed in pure Python with the
    calendar-join semantics (month m scores ONLY if m-1 / m-12 exists)
    and the cross-multiplied champion rule."""
    from collections import defaultdict

    from conftest import SF_SMALL

    from customer_360_etl_pipeline_on_azure_cloud_spark.analytics_queries import (
        q_revenue_backtest,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.functions.scalar import (
        money_cents,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_custkey",
        money_cents("o_totalprice").alias("cents"),
        (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1)).alias("mi"),
    ).collect()
    nation = {
        r["c_custkey"]: r["c_nationkey"]
        for r in load_table(spark, SF_SMALL, "customer").select(
            "c_custkey", "c_nationkey"
        ).collect()
    }
    rev: dict[tuple, int] = defaultdict(int)
    for o in orders:
        if o["o_custkey"] in nation:
            rev[(nation[o["o_custkey"]], o["mi"])] += o["cents"]
    agg: dict[int, list] = defaultdict(lambda: [0, 0, 0, 0])
    for (nk, mi), r in rev.items():
        for lag, (ni, si) in (((1), (0, 1)), ((12), (2, 3))):
            prev = rev.get((nk, mi - lag))
            if prev is not None:
                agg[nk][ni] += 1
                agg[nk][si] += abs(r - prev)
        agg.setdefault(nk, [0, 0, 0, 0])
    expected = {}
    for nk, (n1, s1, n12, s12) in agg.items():
        champion = (
            "seasonal" if n12 > 0 and n1 > 0 and s12 * n1 < s1 * n12
            else "naive"
        )
        expected[nk] = (
            n1, s1 // n1 if n1 > 0 else None,
            n12, s12 // n12 if n12 > 0 else None, champion,
        )
    got = {
        r["c_nationkey"]: (
            r["n1_scored"], r["mae_naive_cents"],
            r["n12_scored"], r["mae_seasonal_cents"], r["champion"],
        )
        for r in q_revenue_backtest(spark, SF_SMALL).collect()
    }
    assert got == expected


# --- revenue_bridge identity --------------------------------------------------


def test_revenue_bridge_explains_total_delta_exactly(spark):
    """The four components must reconstruct total(m) - total(m-1) in
    integer cents for EVERY month, including the first (all-new) and
    the post-history all-churn month."""
    from collections import defaultdict

    from conftest import SF_SMALL

    from customer_360_etl_pipeline_on_azure_cloud_spark.analytics_queries import (
        q_revenue_bridge,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.functions.scalar import (
        money_cents,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    rows = load_table(spark, SF_SMALL, "orders").select(
        "o_custkey",
        money_cents("o_totalprice").alias("cents"),
        (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1)).alias("mi"),
    ).collect()
    total: dict[int, int] = defaultdict(int)
    for r in rows:
        total[r["mi"]] += r["cents"]
    out = {r["month_i"]: r for r in q_revenue_bridge(spark, SF_SMALL).collect()}
    months = sorted(out)
    assert months[-1] == max(total) + 1  # the all-churn epilogue month
    for m, r in out.items():
        delta = (
            r["new_cents"] + r["expansion_cents"]
            - r["contraction_cents"] - r["churned_cents"]
        )
        assert delta == total.get(m, 0) - total.get(m - 1, 0), m
    # epilogue month is pure churn
    last = out[months[-1]]
    assert last["n_new"] == last["n_expanded"] == last["n_contracted"] == 0


def test_cohort_ltv_matches_python_reference(spark):
    """Full cohort-age LTV table recomputed in pure Python."""
    from collections import defaultdict

    from conftest import SF_SMALL

    from customer_360_etl_pipeline_on_azure_cloud_spark.analytics_queries import (
        q_cohort_ltv,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.functions.scalar import (
        money_cents,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    rows = load_table(spark, SF_SMALL, "orders").select(
        "o_custkey",
        money_cents("o_totalprice").alias("cents"),
        (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1)).alias("mi"),
    ).collect()
    cohort: dict[int, int] = {}
    for r in rows:
        cohort[r["o_custkey"]] = min(
            cohort.get(r["o_custkey"], r["mi"]), r["mi"]
        )
    sizes: dict[int, int] = defaultdict(int)
    for c in cohort.values():
        sizes[c] += 1
    per_age_rev: dict[tuple, int] = defaultdict(int)
    per_age_cust: dict[tuple, set] = defaultdict(set)
    for r in rows:
        key = (cohort[r["o_custkey"]], r["mi"] - cohort[r["o_custkey"]])
        per_age_rev[key] += r["cents"]
        per_age_cust[key].add(r["o_custkey"])
    expected = {}
    for co in sizes:
        cum = 0
        for age in sorted(a for (c, a) in per_age_rev if c == co):
            cum += per_age_rev[(co, age)]
            expected[(co, age)] = (
                sizes[co],
                len(per_age_cust[(co, age)]),
                per_age_rev[(co, age)],
                cum,
                cum // sizes[co],
            )
    got = {
        (r["cohort_mi"], r["age"]): (
            r["cohort_size"], r["n_active"], r["rev_cents"],
            r["cum_rev_cents"], r["ltv_per_customer_cents"],
        )
        for r in q_cohort_ltv(spark, SF_SMALL).collect()
    }
    assert got == expected


def test_part_abc_class_matches_python_reference(spark):
    """Whole ABC table recomputed in Python: per-brand (rev desc,
    partkey) cumulative with cross-multiplied 80/95 gates, unsold -> C."""
    from collections import defaultdict

    from conftest import SF_SMALL

    from customer_360_etl_pipeline_on_azure_cloud_spark.analytics_queries import (
        q_part_abc_class,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_partkey",
        F.round(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100,
            0,
        ).cast("long").alias("rc"),
    ).collect()
    parts = load_table(spark, SF_SMALL, "part").select(
        "p_partkey", "p_brand"
    ).collect()
    rev: dict[int, int] = defaultdict(int)
    for r in li:
        rev[r["l_partkey"]] += r["rc"]
    by_brand: dict[str, list] = defaultdict(list)
    for p in parts:
        by_brand[p["p_brand"]].append((p["p_partkey"], rev.get(p["p_partkey"], 0)))
    expected = {}
    for brand, items in by_brand.items():
        items.sort(key=lambda t: (-t[1], t[0]))
        tot = sum(v for _, v in items)
        cum = 0
        for pk, v in items:
            cum += v
            if v == 0:
                cls = "C"
            elif cum * 5 <= tot * 4:
                cls = "A"
            elif cum * 20 <= tot * 19:
                cls = "B"
            else:
                cls = "C"
            expected[pk] = (brand, v, cum, cls)
    got = {
        r["p_partkey"]: (
            r["p_brand"], r["rev_cents"], r["cum_cents"], r["abc_class"]
        )
        for r in q_part_abc_class(spark, SF_SMALL).collect()
    }
    assert got == expected


def test_supplier_scorecard_matches_python_reference(spark):
    """Scorecard recomputed in Python, including suppliers with no
    lines and the (possibly negative) latency totals kept undivided."""
    from collections import defaultdict

    from conftest import SF_SMALL

    from customer_360_etl_pipeline_on_azure_cloud_spark.analytics_queries import (
        q_supplier_scorecard,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    o = {
        r["o_orderkey"]: r["d"]
        for r in load_table(spark, SF_SMALL, "orders").select(
            "o_orderkey", F.to_date("o_orderdate").alias("d")
        ).collect()
    }
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag",
        F.to_date("l_shipdate").alias("sd"),
        F.round(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100,
            0,
        ).cast("long").alias("rc"),
    ).collect()
    agg: dict[int, list] = defaultdict(lambda: [0, 0, 0, 0])
    for r in li:
        if r["l_orderkey"] not in o:
            continue
        a = agg[r["l_suppkey"]]
        a[0] += 1
        a[1] += r["rc"]
        a[2] += 1 if r["l_returnflag"] == "R" else 0
        a[3] += (r["sd"] - o[r["l_orderkey"]]).days
    supp = load_table(spark, SF_SMALL, "supplier").select(
        "s_suppkey", "s_nationkey"
    ).collect()
    by_nation: dict[int, list] = defaultdict(list)
    for s in supp:
        n, rv, rl, lat = agg.get(s["s_suppkey"], [0, 0, 0, 0])
        by_nation[s["s_nationkey"]].append((s["s_suppkey"], n, rv, rl, lat))
    expected = {}
    for nk, items in by_nation.items():
        items.sort(key=lambda t: (-t[2], t[0]))
        for rank, (sk, n, rv, rl, lat) in enumerate(items, start=1):
            expected[sk] = (nk, n, rv, rl, lat, rank)
    got = {
        r["s_suppkey"]: (
            r["s_nationkey"], r["n_lines"], r["revenue_cents"],
            r["return_lines"], r["sum_lat_days"], r["rev_rank"],
        )
        for r in q_supplier_scorecard(spark, SF_SMALL).collect()
    }
    assert got == expected
