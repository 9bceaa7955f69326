"""Unit tests for the training-prep operators: Gopher rules, BPE pair
counting, unigram-LM scoring, duplicated-passage stats, int8
quantization, leakage-safe splits.

The registered queries' oracle parity is covered by
tests/test_oracle_parity.py (which parametrizes over the full
registry); these tests pin the operator-level semantics on
hand-computable corpora.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
    shared_passage_stats,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.sampling import (
    leakage_safe_split,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
    embedding_quant_stats,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.text import (
    adjacent_pairs,
    gopher_rules,
    unigram_nll,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- gopher_rules ------------------------------------------------------------


def test_gopher_each_rule_fires_independently(spark):
    fluent = "the cat sat of and is to in " + "word " * 15  # 23 tokens, stopword-rich
    docs = _docs(
        spark,
        [
            (1, fluent.strip()),                       # passes everything
            (2, "the a of and is to in"),              # too_short (7 tokens)
            (3, ("xx " * 30).strip()),                 # low_stopwords + word_len (2.0)
            (4, "the a of !!! ### $$$ %%% ^^^ &&& *" + " word" * 15),  # symbols
        ],
    )
    flags = gopher_rules(F.col("text"))
    out = docs.select(
        "doc_id", *[c.alias(n) for n, c in flags.items()]
    ).collect()
    by_id = {r["doc_id"]: r.asDict() for r in out}
    assert not any(
        v for k, v in by_id[1].items() if k != "doc_id"
    ), by_id[1]
    assert by_id[2]["too_short"]
    assert by_id[3]["low_stopwords"] and by_id[3]["word_len_out"]
    assert by_id[4]["symbol_heavy"]


def test_gopher_mean_word_len_cross_multiplication(spark):
    # 4 tokens x 3 chars = 12 word chars + 3 spaces -> mean exactly 3.0:
    # NOT a violation (bounds inclusive).  2-char tokens -> mean 2.0: fails.
    docs = _docs(spark, [(1, "abc def ghi jkl"), (2, "ab cd ef gh")])
    flags = gopher_rules(F.col("text"))
    out = {r["doc_id"]: r["v"] for r in docs.select(
        "doc_id", flags["word_len_out"].alias("v")).collect()}
    assert out[1] is False and out[2] is True


# --- adjacent_pairs ----------------------------------------------------------


def test_adjacent_pairs_tiny_docs(spark):
    docs = _docs(spark, [(1, "a"), (2, "a b"), (3, "a b c b c")])
    got = sorted(
        tuple(r) for r in adjacent_pairs(docs).collect()
    )
    assert got == [("a", "b"), ("a", "b"), ("b", "c"), ("b", "c"), ("c", "b")]


def test_adjacent_pairs_top_count(spark):
    docs = _docs(spark, [(1, "x y x y x y z")])
    top = (
        adjacent_pairs(docs)
        .groupBy("left_tok", "right_tok")
        .count()
        .orderBy(F.col("count").desc(), "left_tok", "right_tok")
        .first()
    )
    assert (top["left_tok"], top["right_tok"], top["count"]) == ("x", "y", 3)


# --- unigram_nll -------------------------------------------------------------


def test_unigram_nll_hand_computed(spark):
    # corpus: doc1 = "a a b", doc2 = "b".  counts: a=2, b=2, total=4.
    # every token has p=2/4 -> nll = ln(4)-ln(2) = ln(2) for both docs.
    docs = _docs(spark, [(1, "a a b"), (2, "b")])
    out = {r["doc_id"]: r for r in unigram_nll(docs).collect()}
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 1
    assert abs(out[1]["avg_nll"] - math.log(2)) < 1e-12
    assert abs(out[2]["avg_nll"] - math.log(2)) < 1e-12


def test_unigram_nll_rare_tokens_score_higher(spark):
    docs = _docs(
        spark,
        [(1, "common common common common"), (2, "common rare")],
    )
    out = {r["doc_id"]: r["avg_nll"] for r in unigram_nll(docs).collect()}
    assert out[2] > out[1]


# --- shared_passage_stats ----------------------------------------------------


def test_shared_passage_detects_cross_doc_quote(spark):
    passage = "one two three four five six seven eight"
    docs = _docs(
        spark,
        [
            (1, passage + " tail1 tail2"),
            (2, "head1 head2 " + passage),
            (3, "nothing in common with anyone here at all"),
        ],
    )
    out = {r["doc_id"]: r for r in shared_passage_stats(docs).collect()}
    # docs 1 and 2 share exactly the 8-token passage window; doc 3 absent
    assert set(out) == {1, 2}
    assert out[1]["n_shared_windows"] == 1 and out[2]["n_shared_windows"] == 1
    assert out[1]["n_windows"] == 3 and out[2]["n_windows"] == 3


def test_shared_passage_short_docs_have_no_windows(spark):
    docs = _docs(spark, [(1, "a b c"), (2, "a b c")])
    assert shared_passage_stats(docs).count() == 0


def test_shared_passage_within_doc_repeat_not_shared(spark):
    rep = "r1 r2 r3 r4 r5 r6 r7 r8"
    docs = _docs(spark, [(1, rep + " mid " + rep)])
    assert shared_passage_stats(docs).count() == 0


# --- embedding_quant_stats ---------------------------------------------------


def test_embedding_quant_constant_dim_collapses(spark):
    df = spark.createDataFrame(
        [(1, [0.5, 0.0]), (2, [0.5, 1.0]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    out = {r["dim"]: r for r in embedding_quant_stats(df).collect()}
    assert out[0]["n_levels"] == 1 and out[0]["q_sum"] == 0
    # dim 1: values 0, 1, 0.5 -> codes 0, 255, round(127.5)=128 (HALF_UP)
    assert out[1]["q_min"] == 0 and out[1]["q_max"] == 255
    assert out[1]["q_sum"] == 0 + 255 + 128 and out[1]["n_levels"] == 3


# --- leakage_safe_split ------------------------------------------------------


def test_leakage_safe_split_keeps_components_together(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    verts = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long"
    )
    out = leakage_safe_split(
        edges, verts, {"train": 0.8, "val": 0.1, "test": 0.1}
    ).collect()
    split_of = {r["id"]: r["split"] for r in out}
    comp_of = {r["id"]: r["component"] for r in out}
    assert len(split_of) == 6
    assert split_of[1] == split_of[2] == split_of[3]
    assert split_of[10] == split_of[11]
    assert comp_of[1] == comp_of[2] == comp_of[3] == 1
    assert comp_of[99] == 99
    assert set(split_of.values()) <= {"train", "val", "test"}


def test_leakage_safe_split_deterministic_across_layouts(spark):
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    verts = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    a = leakage_safe_split(edges, verts, {"train": 0.5, "test": 0.5})
    b = leakage_safe_split(
        edges.repartition(7), verts.repartition(5), {"train": 0.5, "test": 0.5}
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# --- pmi_pairs ---------------------------------------------------------------


def test_pmi_collocation_beats_chance_pair(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.text import (
        pmi_pairs,
    )

    # "new" occurs ONLY before "york" (c=5, c(new)=c(york)=5 ->
    # pmi=ln(N/5)); "the" spreads over cat/dog/fox (c(the)=15, the-cat
    # c=5 -> pmi=ln(N/15)).  Exclusive pairing must outrank the
    # diluted one.
    docs = _docs(
        spark,
        [(i, "new york the cat the dog the fox pad") for i in range(5)],
    )
    out = {
        (r["left_tok"], r["right_tok"]): r["pmi"]
        for r in pmi_pairs(docs, min_count=5).collect()
    }
    assert ("new", "york") in out
    assert out[("new", "york")] > out[("the", "cat")]


def test_pmi_min_count_suppresses_tail(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.text import (
        pmi_pairs,
    )

    docs = _docs(spark, [(1, "a b a b a b c d")])
    got = {(r["left_tok"], r["right_tok"]) for r in pmi_pairs(docs, min_count=3).collect()}
    assert ("c", "d") not in got and ("a", "b") in got


# --- cdc_chunk_stats ---------------------------------------------------------


def test_cdc_short_doc_is_one_chunk(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        cdc_chunk_stats,
    )

    docs = _docs(spark, [(1, "a b c d e f g")])  # 7 < 2*window
    row = cdc_chunk_stats(docs).collect()[0]
    assert row["n_chunks"] == 1 and row["max_chunk_tokens"] == row["n_tokens"] == 7


def test_cdc_chunk_lengths_partition_the_doc(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        cdc_chunk_stats,
    )

    text = " ".join(f"w{i % 13}" for i in range(120))
    row = cdc_chunk_stats(_docs(spark, [(1, text)])).collect()[0]
    assert row["n_tokens"] == 120
    assert 1 <= row["n_chunks"] <= 120
    assert row["max_chunk_tokens"] <= 120
    # boundaries are insertion-robust: shifting a prefix in must
    # reproduce identical chunking AFTER the re-sync point, so the max
    # chunk length changes by at most the prefix effect — pinned
    # indirectly: same text -> same stats across partitioning layouts.
    row2 = cdc_chunk_stats(
        _docs(spark, [(1, text)]).repartition(3)
    ).collect()[0]
    assert tuple(row) == tuple(row2)


def test_cdc_boundaries_realign_after_insertion(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        cdc_chunk_stats,
    )

    base = " ".join(f"w{i % 13}" for i in range(120))
    shifted = "INS " + base
    a = cdc_chunk_stats(_docs(spark, [(1, base)])).collect()[0]
    b = cdc_chunk_stats(_docs(spark, [(1, shifted)])).collect()[0]
    # content-defined: chunk count differs by at most the chunks the
    # 1-token insertion touches (the re-sync guarantee), never a full
    # re-chunk like fixed windows.
    assert abs(a["n_chunks"] - b["n_chunks"]) <= 2


# --- pure-Python reference cross-checks (third implementation) ---------------
#
# The DuckDB oracles replay the same expression trees; these re-derive
# the semantics from scratch in Python so a shared misreading of the
# spec can't hide in both SQL dialects.

import hashlib
import random


def _py_cdc(tokens_list, window=4, gate="10000000"):
    n = len(tokens_list)
    cuts = []
    if n >= 2 * window:
        for i in range(window, n - window + 1):
            ctx = " ".join(tokens_list[i - window: i])
            if hashlib.md5(ctx.encode()).hexdigest()[:8] < gate:
                cuts.append(i)
    bounds = [0, *cuts, n]
    lens = [b - a for a, b in zip(bounds, bounds[1:])]
    return n, len(cuts) + 1, max(lens)


def test_cdc_matches_pure_python_reference(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        cdc_chunk_stats,
    )

    rng = random.Random(7)
    rows = []
    for i in range(50):
        n = rng.randint(1, 60)
        rows.append((i, " ".join(f"t{rng.randint(0, 12)}" for _ in range(n))))
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_chunks"], r["max_chunk_tokens"])
        for r in cdc_chunk_stats(_docs(spark, rows)).collect()
    }
    for i, text in rows:
        assert got[i] == _py_cdc(text.split(" ")), (i, text)


def _py_gopher(text):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.text import (
        GOPHER_DEFAULTS as P,
        LANG_STOPWORDS,
    )
    import re

    toks = re.split(r"\s+", text.strip())
    n_tok, n_chars = len(toks), len(text)
    n_sym = len(text) - len(re.sub(r"[^a-z0-9 ]", "", text.lower()))
    n_stop = sum(1 for t in toks if t in LANG_STOPWORDS["en"])
    wc = n_chars - (n_tok - 1)
    return {
        "too_short": n_tok < P["min_tokens"],
        "too_long": n_tok > P["max_tokens"],
        "word_len_out": wc < n_tok * P["min_mean_word_len"]
        or wc > n_tok * P["max_mean_word_len"],
        "symbol_heavy": n_sym * 100 > n_chars * P["max_symbol_pct"],
        "low_stopwords": n_stop < P["min_stopwords"],
    }


def test_gopher_matches_pure_python_reference(spark):
    rng = random.Random(11)
    words = ["the", "a", "of", "xx", "word", "!!!", "ab", "verylongtoken", "t9"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 40))))
        for i in range(40)
    ]
    flags = gopher_rules(F.col("text"))
    got = {
        r["doc_id"]: {k: r[k] for k in flags}
        for r in _docs(spark, rows).select("doc_id", *[c.alias(n) for n, c in flags.items()]).collect()
    }
    for i, text in rows:
        assert got[i] == _py_gopher(text), (i, text)


def test_unigram_nll_matches_pure_python_reference(spark):
    import math
    from collections import Counter

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.text import (
        unigram_nll,
    )

    rng = random.Random(13)
    rows = [
        (i, " ".join(f"w{rng.randint(0, 6)}" for _ in range(rng.randint(1, 20))))
        for i in range(30)
    ]
    counts = Counter(t for _, text in rows for t in text.split(" "))
    total = sum(counts.values())
    got = {r["doc_id"]: r["avg_nll"] for r in unigram_nll(_docs(spark, rows)).collect()}
    for i, text in rows:
        toks = text.split(" ")
        # same pinned order: sum ln(count) left-to-right, then the
        # n*ln(total) - ll form — replayed exactly
        ll = 0.0
        for t in toks:
            ll += math.log(counts[t])
        want = (len(toks) * math.log(total) - ll) / len(toks)
        # JVM Math.log and libm log may differ in the last ulp (both are
        # "within 1 ulp", neither correctly rounded) — which is precisely
        # why doc_lm_perplexity emits BIGINT ranks, never the raw double.
        assert abs(got[i] - want) <= 1e-12 * max(1.0, abs(want)), (
            i, text, got[i], want,
        )


# --- bpe training ------------------------------------------------------------


def test_merge_pair_greedy_non_overlap(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.bpe import (
        merge_pair,
    )

    df = spark.createDataFrame(
        [(["a", "a", "a"],), (["a", "a", "a", "a", "b", "a", "a"],)],
        "t array<string>",
    )
    got = [r["m"] for r in df.select(merge_pair(F.col("t"), "a", "a").alias("m")).collect()]
    assert got[0] == ["a+a", "a"]
    assert got[1] == ["a+a", "a+a", "b", "a+a"]


def _py_bpe(texts, n_merges=3, min_count=2):
    streams = [t.split(" ") for t in texts]
    merges = []
    for k in range(1, n_merges + 1):
        from collections import Counter

        c = Counter()
        for s in streams:
            for a, b in zip(s, s[1:]):
                c[(a, b)] += 1
        if not c:
            break
        best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), cnt = best
        if cnt < min_count:
            break
        merges.append((k, l, r, cnt))
        joined = f"{l}+{r}"
        out_streams = []
        for s in streams:
            out = []
            for x in s:
                if out and out[-1] == l and x == r:
                    out[-1] = joined
                else:
                    out.append(x)
            out_streams.append(out)
        streams = out_streams
    return merges


def test_bpe_train_matches_pure_python_reference(spark):
    import random

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.bpe import (
        bpe_train,
    )

    rng = random.Random(23)
    texts = [
        " ".join(f"w{rng.randint(0, 5)}" for _ in range(rng.randint(2, 30)))
        for _ in range(40)
    ]
    docs = _docs(spark, list(enumerate(texts)))
    got = sorted(tuple(r) for r in bpe_train(docs, n_merges=4).collect())
    want = sorted(_py_bpe(texts, n_merges=4))
    assert got == want


def test_bpe_train_merged_symbol_feeds_next_round(spark):
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.bpe import (
        bpe_train,
    )

    # round 1 merges (a,b); round 2 must see "a+b" as a unit and merge
    # (a+b, c) — the defining property of BPE training.
    docs = _docs(spark, [(i, "a b c x") for i in range(3)])
    got = [tuple(r) for r in bpe_train(docs, n_merges=2).orderBy("merge_rank").collect()]
    assert got[0] == (1, "a", "b", 3)
    assert got[1] == (2, "a+b", "c", 3)


def test_bpe_train_skips_the_last_rounds_rewrite(spark, monkeypatch):
    # no round reads the corpus rewritten by the last merge, so K found
    # merges rewrite the corpus K - 1 times
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators import bpe

    calls = []
    real = bpe.merge_pair

    def counted(*args, **kwargs):
        calls.append(args[1:3])
        return real(*args, **kwargs)

    monkeypatch.setattr(bpe, "merge_pair", counted)
    docs = _docs(spark, [(i, "a b c d e") for i in range(3)])
    got = [tuple(r) for r in bpe.bpe_train(docs, n_merges=3).orderBy("merge_rank").collect()]
    assert [r[0] for r in got] == [1, 2, 3]
    assert len(calls) == 2


# --- split leakage: the audit and its fix, closed loop -----------------------


def test_cluster_aware_split_audits_to_zero_leakage(spark):
    from conftest import SF_SMALL

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.trainprep_queries import (
        q_cluster_aware_split,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    split = q_cluster_aware_split(spark, SF_SMALL).select("doc_id", "split")
    docs = load_table(spark, SF_SMALL, "documents")
    pairs = minhash_lsh_pairs(
        docs, num_hashes=32, bands=8, verify_threshold_pct=30, exact=True
    ).select("id_a", "id_b")
    sa = split.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    sb = split.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    leaked = (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert leaked == 0, (
        "cluster-aware split must never place a near-dup pair across splits"
    )


# --- streaming index dedup ---------------------------------------------------


def test_streaming_index_dedup_delivers_multiple_batches(spark):
    """The streaming form must actually stream: arrivals split across
    two files with maxFilesPerTrigger=1 -> at least two micro-batches,
    each probing the standing index; the union equals the one-shot
    batch result (batching invariance = the exactly-once statement)."""
    import os
    import tempfile

    from conftest import SF_SMALL

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        minhash_index,
        minhash_lsh_join,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.streaming.incremental import (
        run_foreach_batch,
        stream_file_source,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    idx = minhash_index(corpus)

    tmp = tempfile.mkdtemp(prefix="c360_stream_idx_test_")
    arrivals = os.path.join(tmp, "arrivals")
    new.filter(F.col("doc_id") % 10 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(arrivals)
    new.filter(F.col("doc_id") % 10 != 0).coalesce(1).write.mode(
        "append"
    ).parquet(arrivals)

    stream = stream_file_source(
        spark, arrivals, docs.schema, max_files_per_trigger=1
    )
    batches, pairs = [], []

    def probe(batch_df, batch_id):
        batches.append(batch_id)
        out = minhash_lsh_join(
            batch_df, idx, num_hashes=32, bands=8, verify_threshold_pct=30
        ).select("new_id", "corpus_id")
        pairs.extend((r["new_id"], r["corpus_id"]) for r in out.collect())

    run_foreach_batch(stream, os.path.join(tmp, "ckpt"), probe)

    assert len(batches) >= 2, "expected >=2 micro-batches"
    oneshot = sorted(
        (r["new_id"], r["corpus_id"])
        for r in minhash_lsh_join(
            new, idx, num_hashes=32, bands=8, verify_threshold_pct=30
        ).select("new_id", "corpus_id").collect()
    )
    assert sorted(pairs) == oneshot


# --- semantic_dedup boundary recall (nprobe knob) ----------------------------


def test_semantic_dedup_nprobe_recovers_boundary_pair(spark):
    """At sf0.1 the planted pair (18, 1000018) deterministically
    straddles a k-means cell boundary — the documented nprobe=1 miss
    class (CORRECTNESS_FULL_sf0.1 records it).  nprobe=2 must recover
    it: every planted copy joins its source's component, none are
    survivors.  Extra candidates are exact-cosine-verified, so raising
    nprobe can only add true pairs — precision is unchanged."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
        semantic_dedup,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
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

    def misses(nprobe):
        out = semantic_dedup(corpus, threshold=0.9, nprobe=nprobe).collect()
        comp = {r["id"]: r["component"] for r in out}
        return sorted(
            v for v in range(50) if comp[v + 1_000_000] != comp[v]
        )

    assert misses(1) == [18], "the deterministic nprobe=1 boundary miss"
    assert misses(2) == [], "nprobe=2 must recover every planted pair"


# --- growing-index daily loop ------------------------------------------------


def test_incremental_index_update_growth_matters(spark):
    """A near-dup pair split across day 1 and day 2 is only findable
    because day 1's signatures were APPENDED to the index before day 2
    probed — a static index can never produce it."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        minhash_index,
        minhash_lsh_join,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    corpus = _docs(spark, [(1, "totally unrelated words nothing shared here at all x y z")])
    day1 = _docs(spark, [(10, base.strip())])
    day2 = _docs(spark, [(25, base.strip() + " tail")])

    idx = minhash_index(corpus)
    found = []
    for day in (day1, day2):
        found.extend(
            (r["new_id"], r["corpus_id"])
            for r in minhash_lsh_join(
                day, idx, num_hashes=32, bands=8, verify_threshold_pct=30
            ).select("new_id", "corpus_id").collect()
        )
        idx = idx.unionByName(minhash_index(day))
    assert found == [(25, 10)], found

    # static-index control: the same probes without the append find nothing
    idx0 = minhash_index(corpus)
    static = []
    for day in (day1, day2):
        static.extend(
            minhash_lsh_join(
                day, idx0, num_hashes=32, bands=8, verify_threshold_pct=30
            ).collect()
        )
    assert static == []


def test_incremental_index_update_day1_hits_at_sf01(spark):
    """On the sf0.1 corpus the day-2 probe finds exactly 2 day-1
    arrivals as near-dups — the deterministic witness that the
    registered query's index actually grows (the gate SF produces no
    cross-day pairs, so this pin carries the growth evidence)."""
    from customer_360_etl_pipeline_on_azure_cloud_spark.trainprep_queries import (
        q_incremental_index_update,
    )

    out = q_incremental_index_update(spark, "/root/testdata/sf0.1").collect()
    pairs = [r for r in out if r["new_id"] >= 0]
    sentinels = [r for r in out if r["new_id"] < 0]
    day1_hits = [r for r in pairs if r["corpus_id"] % 10 == 0]
    assert len(pairs) == 91 and len(day1_hits) == 2, (
        len(pairs), len(day1_hits),
    )
    # the r9 contract sentinels (precision, recall floor) must hold
    assert len(sentinels) == 2 and all(r["legal"] for r in sentinels)


def test_shared_passages_match_pure_python_reference(spark):
    rng = random.Random(31)
    rows = []
    for i in range(40):
        n = rng.randint(3, 30)
        rows.append((i, " ".join(f"p{rng.randint(0, 5)}" for _ in range(n))))
    # plant one exact 8-token quote across two docs
    quote = "q1 q2 q3 q4 q5 q6 q7 q8"
    rows.append((100, quote + " x y"))
    rows.append((101, "a b " + quote))

    W = 8
    windows = {}
    for i, text in rows:
        toks = text.split(" ")
        windows[i] = [
            " ".join(toks[j : j + W]) for j in range(len(toks) - W + 1)
        ]
    from collections import Counter

    docs_per_window = {}
    for i, ws in windows.items():
        for w in set(ws):
            docs_per_window.setdefault(w, set()).add(i)
    want = {}
    for i, ws in windows.items():
        shared = sum(1 for w in ws if len(docs_per_window[w]) >= 2)
        if shared > 0:
            want[i] = (len(ws), shared)

    got = {
        r["doc_id"]: (r["n_windows"], r["n_shared_windows"])
        for r in shared_passage_stats(_docs(spark, rows)).collect()
    }
    assert got == want


def test_pmi_matches_pure_python_reference(spark):
    import math as m
    import random
    from collections import Counter

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.text import (
        pmi_pairs,
    )

    rng = random.Random(37)
    rows = [
        (i, " ".join(f"t{rng.randint(0, 4)}" for _ in range(rng.randint(2, 25))))
        for i in range(30)
    ]
    uni, big = Counter(), Counter()
    for _, text in rows:
        toks = text.split(" ")
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    n = sum(big.values())
    want = {
        (l, r): m.log((c * n) / (uni[l] * uni[r]))
        for (l, r), c in big.items()
        if c >= 5
    }
    got = {
        (r["left_tok"], r["right_tok"]): r["pmi"]
        for r in pmi_pairs(_docs(spark, rows), min_count=5).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) <= 1e-12 * max(1.0, abs(want[k])), k


def test_embedding_quant_matches_pure_python_reference(spark):
    import random

    rng = random.Random(41)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(25)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    # replay through float32 exactly as parquet/Spark store it
    import numpy as np

    cols = np.array(
        [np.asarray(v, dtype=np.float32) for _, v in vecs], dtype=np.float32
    )
    want = {}
    for d in range(6):
        col = cols[:, d]
        mn, mx = float(col.min()), float(col.max())
        if mx == mn:
            codes = [0] * len(col)
        else:
            codes = [
                int(
                    __import__("decimal").Decimal(
                        (float(v) - mn) * 255.0 / (mx - mn)
                    ).quantize(0, rounding="ROUND_HALF_UP")
                )
                for v in col
            ]
        want[d] = (
            len(set(codes)),
            min(codes),
            max(codes),
            sum(codes),
        )
    got = {
        r["dim"]: (r["n_levels"], r["q_min"], r["q_max"], r["q_sum"])
        for r in embedding_quant_stats(df).collect()
    }
    assert got == want


# --- duplicate token spans (round 6) ----------------------------------------


def test_duplicate_token_spans_matches_pure_python(spark):
    """Third implementation: pure-Python window-hash + interval merge
    over a random corpus with planted shared passages, compared
    row-for-row with the Spark operator."""
    import random

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        duplicate_token_spans,
    )

    rng = random.Random(42)
    W = 5
    shared_a = [f"s{i}" for i in range(9)]          # 9-token shared passage
    shared_b = [f"t{i}" for i in range(6)]          # 6-token shared passage
    docs = []
    for d in range(12):
        toks = [f"w{d}_{i}" for i in range(rng.randint(3, 30))]
        if d % 3 == 0:
            at = rng.randint(0, len(toks))
            toks = toks[:at] + shared_a + toks[at:]
        if d % 4 == 0:
            at = rng.randint(0, len(toks))
            toks = toks[:at] + shared_b + toks[at:]
        if d == 7:  # within-doc repeat only: must NOT cut by itself
            toks = toks + ["r0", "r1", "r2", "r3", "r4"] * 2
        docs.append((d, " ".join(toks)))

    # pure-Python reference
    from collections import defaultdict

    win_docs = defaultdict(set)
    win_pos = defaultdict(list)
    for d, text in docs:
        t = text.split()
        for i in range(len(t) - W + 1):
            key = " ".join(t[i : i + W])
            win_docs[key].add(d)
            win_pos[d].append((i + 1, key))
    expected = set()
    for d, _ in docs:
        ps = sorted(
            p for p, key in win_pos[d] if len(win_docs[key]) >= 2
        )
        spans = []
        for p in ps:
            if spans and p <= spans[-1][1] + 1:
                spans[-1] = (spans[-1][0], p + W - 1)
            else:
                spans.append((p, p + W - 1))
        for s, e in spans:
            expected.add((d, s, e, e - s + 1))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.cut_tokens)
        for r in duplicate_token_spans(df, window=W).collect()
    }
    assert got == expected
    assert expected, "planted passages must produce spans"
    # the within-doc-repeat-only doc cuts nothing unless it also holds
    # a cross-doc passage
    doc7_cross = any(
        d == 7 for d, s, e, c in expected
    )
    repeats_shared = len(win_docs["r0 r1 r2 r3 r4"]) >= 2
    assert repeats_shared is False or doc7_cross  # repeat key is doc-7-only


def test_remove_duplicate_spans_consistent_with_spans(spark):
    """Applying the cut must remove exactly the spans' tokens: per doc,
    n_before - n_after == sum(cut_tokens), untouched docs pass through
    byte-identical, and no shared 8-token window survives ACROSS the
    cleaned corpus (the Lee et al. termination property on this corpus:
    one pass removes every cross-doc duplicated window here because cut
    regions don't create new 8-token windows shared by 2+ docs)."""
    from conftest import SF_SMALL

    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        duplicate_token_spans,
        remove_duplicate_spans,
    )
    from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    spans = duplicate_token_spans(docs, window=8)
    cut_per_doc = {
        r.doc_id: r.total
        for r in spans.groupBy("doc_id")
        .agg(F.sum("cut_tokens").alias("total"))
        .collect()
    }
    cleaned = remove_duplicate_spans(docs, window=8)
    originals = {r.doc_id: r.text for r in docs.collect()}
    n_rows = 0
    for r in cleaned.collect():
        n_rows += 1
        expect_cut = cut_per_doc.get(r.doc_id, 0)
        assert r.n_tokens_before - r.n_tokens_after == expect_cut, r.doc_id
        if expect_cut == 0:
            assert r.clean_text == " ".join(originals[r.doc_id].split())
    assert n_rows == docs.count()

    # idempotence-ish: the cleaned corpus has no cross-doc shared window
    again = duplicate_token_spans(
        cleaned.select("doc_id", F.col("clean_text").alias("text")), window=8
    ).count()
    assert again == 0


def test_duplicate_spans_shuffled_fallback_matches_broadcast(spark):
    # broadcast_shared=False (the heavily-duplicated-corpus path: the
    # shared-key set scales with duplicate mass, so at 100 TB it may
    # not be broadcastable) must produce the identical span table
    from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
        duplicate_token_spans,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(map(tuple, duplicate_token_spans(docs, window=8).collect()))
    b = sorted(
        map(
            tuple,
            duplicate_token_spans(
                docs, window=8, broadcast_shared=False
            ).collect(),
        )
    )
    assert a == b and len(a) > 0
