"""Training-prep queries: leakage-safe splits, Gopher quality rules,
BPE merge-pair counting, duplicated-passage spans, unigram-LM
perplexity ranking, and int8 embedding quantization audits.

These are the operations that sit between corpus curation and the
tokenizer/trainer: the split must not leak near-duplicates, the
tokenizer trainer needs adjacent-pair counts, the quality gate needs
the published composite rules, and the vector store needs a
quantization calibration report.  Each is expressed through the
operator library (operators/text.py, dedup.py, similarity.py,
sampling.py, graph.py) with the repo's exactness rules: integer
comparisons for thresholds, md5 for all engine-crossing hashes,
pinned-order folds when a double must cross engines, BIGINT-only
outputs wherever ranking is the deliverable.

This module deliberately does NOT import testdata_queries (no import
cycle); the one oracle that reuses the dedup-cluster recursive CTE
receives it as a parameter via :func:`build_trainprep_queries`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.sampling import leakage_safe_split, split_assign, split_band_sql
from .operators.text import (
    GOPHER_DEFAULTS,
    LANG_STOPWORDS,
    adjacent_pairs,
    gopher_rules,
    unigram_nll,
)
from .sources.tables import _t


# --- leakage-safe cluster-aware dataset split --------------------------------

TRAINPREP_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-aware train/val/test split
    (operators/sampling.py leakage_safe_split): near-dup pairs ->
    connected components -> hash-band the COMPONENT into a split, so a
    document and its near-duplicates always share a split and eval
    can't be inflated by memorized training twins.

    The pair graph is the EXACT Jaccard >= 30% set
    (operators/dedup.py jaccard_pairs), so the oracle — the
    dedup-cluster recursive CTE + the identical md5 band CASE —
    asserts at every scale factor (VERDICT r8 item 2: the former
    minhash input made this an sf-coincidence oracle that measurably
    FAILED at sf1).  The operator under test is the component-level
    split; the LSH pair path keeps its own scale-valid contract in
    minhash_near_dup / dedup_clusters.

    Scale: the components pass is the dedup cascade already run for
    dedup_clusters (shared machinery); the split itself is a narrow
    map on the component label.
    """
    from .operators.dedup import jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, exact=True).select("id_a", "id_b")
    out = leakage_safe_split(pairs, docs.select("doc_id"), TRAINPREP_SPLITS)
    return out.select(F.col("id").alias("doc_id"), "component", "split")


def _sql_cluster_aware_split(sql_dedup_clusters: str) -> str:
    band = split_band_sql("component", TRAINPREP_SPLITS)
    return f"""
WITH comp AS (SELECT doc_id, component FROM ({sql_dedup_clusters}) c)
SELECT doc_id, component, {band} AS split FROM comp
"""


# --- Gopher-style composite quality gate ------------------------------------


def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source accounting of the Gopher-style quality rules
    (operators/text.py gopher_rules): how many documents each source
    contributes, how many pass the composite gate, and which rule
    trips how often — the report that decides which crawl sources are
    worth keeping at 100 TB.  Five integer-exact narrow flags + one
    small aggregation; the scan is the cost."""
    from .operators.text import gopher_counts, gopher_rules_from_counts
    from .operators.util import spread

    docs = spread(_t(spark, sf_dir, "documents"))
    # stage the expensive tokenize/regex counts in their own projection
    # so the five rule flags reference cheap attributes, not five
    # re-evaluations of the count expressions (see gopher_counts)
    counts = gopher_counts(F.col("text"))
    base = docs.select(
        "source", *[c.alias(name) for name, c in counts.items()]
    )
    flags = gopher_rules_from_counts(
        F.col("n_tok"), F.col("n_chars"), F.col("n_sym"), F.col("n_stop")
    )
    viol = None
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for name, col in flags.items():
        aggs.append(F.sum(col.cast("long")).alias(f"n_{name}"))
        viol = col if viol is None else (viol | col)
    aggs.append(F.sum((~viol).cast("long")).alias("n_pass"))
    return base.groupBy("source").agg(*aggs)


def _sql_gopher() -> str:
    p = GOPHER_DEFAULTS
    stop = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    return f"""
WITH base AS (
  SELECT source,
    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS n_sym,
    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x IN ({stop}))) AS BIGINT) AS n_stop
  FROM documents
), flags AS (
  SELECT source,
    (n_tok < {p["min_tokens"]}) AS too_short,
    (n_tok > {p["max_tokens"]}) AS too_long,
    ((n_chars - (n_tok - 1)) < n_tok * {p["min_mean_word_len"]}
     OR (n_chars - (n_tok - 1)) > n_tok * {p["max_mean_word_len"]}) AS word_len_out,
    (n_sym * 100 > n_chars * {p["max_symbol_pct"]}) AS symbol_heavy,
    (n_stop < {p["min_stopwords"]}) AS low_stopwords
  FROM base
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN too_short THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
  CAST(SUM(CASE WHEN too_long THEN 1 ELSE 0 END) AS BIGINT) AS n_too_long,
  CAST(SUM(CASE WHEN word_len_out THEN 1 ELSE 0 END) AS BIGINT) AS n_word_len_out,
  CAST(SUM(CASE WHEN symbol_heavy THEN 1 ELSE 0 END) AS BIGINT) AS n_symbol_heavy,
  CAST(SUM(CASE WHEN low_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS n_low_stopwords,
  CAST(SUM(CASE WHEN NOT (too_short OR too_long OR word_len_out
                          OR symbol_heavy OR low_stopwords)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM flags GROUP BY source
"""


# --- BPE merge-pair counting -------------------------------------------------

_BPE_TOPK = 20


def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent-token-pair counts (operators/text.py
    adjacent_pairs) — the count table of one BPE/WordPiece merge
    iteration over the corpus.  zip_with builds pairs in-row, the
    groupBy partially aggregates map-side, and the top-k is
    orderBy+limit = TakeOrderedAndProject (distributed top-k, no
    global sort).  Integer counts, deterministic (count desc, pair
    asc) cutoff."""
    docs = _t(spark, sf_dir, "documents")
    return (
        adjacent_pairs(docs)
        .groupBy("left_tok", "right_tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "left_tok", "right_tok")
        .limit(_BPE_TOPK)
    )


SQL_BPE_MERGE_PAIRS = f"""
WITH toks AS (SELECT string_split_regex(trim(text), '\\s+') AS t FROM documents),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> struct_pack(l := t[i], r := t[i + 1]))) AS p
  FROM toks
)
SELECT p.l AS left_tok, p.r AS right_tok, CAST(COUNT(*) AS BIGINT) AS cnt
FROM pairs GROUP BY 1, 2
ORDER BY cnt DESC, left_tok, right_tok LIMIT {_BPE_TOPK}
"""


# --- cross-document duplicated passages --------------------------------------

_PASSAGE_WINDOW = 8


def q_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-passage exposure (operators/dedup.py
    shared_passage_stats): sliding 8-token window fingerprints, shared
    iff the same window text occurs in >=2 distinct documents — the
    distributed form of substring-level dedup that catches quotes and
    partial scrapes whole-document similarity misses."""
    docs = _t(spark, sf_dir, "documents")
    from .operators.dedup import shared_passage_stats

    return shared_passage_stats(docs, window=_PASSAGE_WINDOW)


SQL_DUPLICATE_PASSAGES = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), w AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len(t) - {_PASSAGE_WINDOW - 1}),
           i -> md5(array_to_string(t[i:i + {_PASSAGE_WINDOW - 1}], ' ')))) AS wkey
  FROM toks WHERE len(t) >= {_PASSAGE_WINDOW}
), shared AS (
  SELECT wkey FROM w GROUP BY wkey HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN wkey IN (SELECT wkey FROM shared) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_shared_windows
FROM w GROUP BY doc_id
HAVING CAST(SUM(CASE WHEN wkey IN (SELECT wkey FROM shared) THEN 1 ELSE 0 END)
            AS BIGINT) > 0
"""


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FINISHED substring-dedup output (operators/dedup.py
    duplicate_token_spans — VERDICT r5 item 4): per document, the
    maximal merged 1-based token ranges to REMOVE, where a range
    covers tokens inside an 8-token window whose text occurs in >= 2
    distinct documents (within-doc repeats alone never cut).  The
    exact-oracle restatement of Lee et al. 2022's final step — the
    gaps-and-islands interval merge runs in-row on Spark (sorted
    positions + one fold) and as a lag()-window island SQL in DuckDB;
    a pure-Python third implementation is pinned on random corpora in
    tests/test_trainprep.py."""
    docs = _t(spark, sf_dir, "documents")
    from .operators.dedup import duplicate_token_spans

    return duplicate_token_spans(docs, window=_PASSAGE_WINDOW)


SQL_DUPLICATE_SPANS = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), w AS (
  SELECT doc_id,
         unnest(generate_series(1, len(t) - {_PASSAGE_WINDOW - 1})) AS pos,
         unnest(list_transform(
           generate_series(1, len(t) - {_PASSAGE_WINDOW - 1}),
           i -> md5(array_to_string(t[i:i + {_PASSAGE_WINDOW - 1}], ' ')))) AS wkey
  FROM toks WHERE len(t) >= {_PASSAGE_WINDOW}
), shared AS (
  SELECT wkey FROM w GROUP BY wkey HAVING COUNT(DISTINCT doc_id) >= 2
), sp AS (
  SELECT doc_id, pos FROM w WHERE wkey IN (SELECT wkey FROM shared)
), flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {_PASSAGE_WINDOW} THEN 0 ELSE 1 END AS brk
  FROM sp
), isl AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM flagged
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {_PASSAGE_WINDOW - 1} AS BIGINT) AS span_end,
       CAST(MAX(pos) + {_PASSAGE_WINDOW - 1} - MIN(pos) + 1 AS BIGINT)
         AS cut_tokens
FROM isl GROUP BY doc_id, island
"""


def q_substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the substring-dedup cut (operators/dedup.py
    remove_duplicate_spans — the actual corpus-cleaning output of Lee
    et al. 2022): every duplicate_spans range removed from every
    document, unexposed documents passing through untouched.  One row
    per document with before/after token counts and the cleaned text;
    the oracle rebuilds the cleaned text in DuckDB with the same
    islands CTE + NOT EXISTS positional filter + ordered string_agg,
    so the text column itself is hash-compared cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    from .operators.dedup import remove_duplicate_spans

    return remove_duplicate_spans(docs, window=_PASSAGE_WINDOW)


SQL_SUBSTRING_DEDUP_APPLY = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), w AS (
  SELECT doc_id,
         unnest(generate_series(1, len(t) - {_PASSAGE_WINDOW - 1})) AS pos,
         unnest(list_transform(
           generate_series(1, len(t) - {_PASSAGE_WINDOW - 1}),
           i -> md5(array_to_string(t[i:i + {_PASSAGE_WINDOW - 1}], ' ')))) AS wkey
  FROM toks WHERE len(t) >= {_PASSAGE_WINDOW}
), shared AS (
  SELECT wkey FROM w GROUP BY wkey HAVING COUNT(DISTINCT doc_id) >= 2
), sp AS (
  SELECT doc_id, pos FROM w WHERE wkey IN (SELECT wkey FROM shared)
), flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {_PASSAGE_WINDOW} THEN 0 ELSE 1 END AS brk
  FROM sp
), isl AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM flagged
), spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_PASSAGE_WINDOW - 1} AS e
  FROM isl GROUP BY doc_id, island
), tokpos AS (
  SELECT doc_id, unnest(t) AS tok,
         unnest(generate_series(1, len(t))) AS pos
  FROM toks
), kept AS (
  SELECT tp.doc_id, tp.tok, tp.pos
  FROM tokpos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tp.doc_id AND tp.pos BETWEEN s.s AND s.e
  )
), agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_after,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens_before,
       COALESCE(a.n_after, 0) AS n_tokens_after,
       COALESCE(a.clean_text, '') AS clean_text
FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
"""


def q_corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation budget a corpus owner actually reads:
    exact dedup (md5(text) groups, min-doc_id survivor — the standard
    first pass) THEN substring-dedup span removal on the survivors
    (operators/dedup.py remove_duplicate_spans — Lee et al. order:
    exact first, then substring), accounted per source:

      (source, n_docs_raw, n_docs_kept, tokens_raw, tokens_kept,
       tokens_after_cut)

    — how many documents and tokens each source contributes before
    dedup, after exact dedup, and after the passage cut; the direct
    input to per-source mixture weighting (source_mixture_plan).  All
    BIGINT; every stage is exactly SQL-expressible, so the WHOLE
    pipeline composition is one oracle-checked row set."""
    docs = _t(spark, sf_dir, "documents")
    from .operators.dedup import remove_duplicate_spans

    keep = docs.groupBy(F.md5(F.col("text")).alias("__h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    surv = docs.join(keep.select("doc_id"), "doc_id")
    cleaned = remove_duplicate_spans(surv).select(
        "doc_id", "n_tokens_before", "n_tokens_after"
    )
    kept = surv.select("doc_id", "source").join(cleaned, "doc_id")
    raw = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_raw"),
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
        .alias("tokens_raw"),
    )
    after = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum("n_tokens_before").cast("long").alias("tokens_kept"),
        F.sum("n_tokens_after").cast("long").alias("tokens_after_cut"),
    )
    return raw.join(after, "source", "left").select(
        "source",
        "n_docs_raw",
        F.coalesce("n_docs_kept", F.lit(0)).alias("n_docs_kept"),
        "tokens_raw",
        F.coalesce("tokens_kept", F.lit(0)).alias("tokens_kept"),
        F.coalesce("tokens_after_cut", F.lit(0)).alias("tokens_after_cut"),
    )


SQL_CORPUS_CURATION_REPORT = f"""
WITH keep AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
), surv AS (
  SELECT d.* FROM documents d JOIN keep USING (doc_id)
), toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM surv
), w AS (
  SELECT doc_id,
         unnest(generate_series(1, len(t) - {_PASSAGE_WINDOW - 1})) AS pos,
         unnest(list_transform(
           generate_series(1, len(t) - {_PASSAGE_WINDOW - 1}),
           i -> md5(array_to_string(t[i:i + {_PASSAGE_WINDOW - 1}], ' ')))) AS wkey
  FROM toks WHERE len(t) >= {_PASSAGE_WINDOW}
), shared AS (
  SELECT wkey FROM w GROUP BY wkey HAVING COUNT(DISTINCT doc_id) >= 2
), sp AS (
  SELECT doc_id, pos FROM w WHERE wkey IN (SELECT wkey FROM shared)
), flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {_PASSAGE_WINDOW} THEN 0 ELSE 1 END AS brk
  FROM sp
), isl AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM flagged
), spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + {_PASSAGE_WINDOW - 1} AS e
  FROM isl GROUP BY doc_id, island
), cut AS (
  SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS n_cut
  FROM spans GROUP BY doc_id
), kept AS (
  SELECT s.source,
         CAST(len(t.t) AS BIGINT) AS n_before,
         CAST(len(t.t) AS BIGINT) - COALESCE(cut.n_cut, 0) AS n_after
  FROM surv s JOIN toks t USING (doc_id)
  LEFT JOIN cut USING (doc_id)
), after AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
         CAST(SUM(n_before) AS BIGINT) AS tokens_kept,
         CAST(SUM(n_after) AS BIGINT) AS tokens_after_cut
  FROM kept GROUP BY source
), raw AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs_raw,
         CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS tokens_raw
  FROM documents GROUP BY source
)
SELECT raw.source, raw.n_docs_raw,
       COALESCE(after.n_docs_kept, 0) AS n_docs_kept,
       raw.tokens_raw,
       COALESCE(after.tokens_kept, 0) AS tokens_kept,
       COALESCE(after.tokens_after_cut, 0) AS tokens_after_cut
FROM raw LEFT JOIN after USING (source)
"""


_WINNOW_K, _WINNOW_W, _WINNOW_MS = 5, 4, 2


def q_winnowing_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing dedup (operators/dedup.py winnowing_pairs
    — Schleimer et al. 2003): k-gram hashes -> rightmost-min-per-window
    fingerprint selection (guaranteed to catch any shared run of
    >= window+k-1 tokens at ~2/(window+1) the shingle-join volume) ->
    shared-fingerprint pair counting.  The fourth lexical dedup
    modality beside exact Jaccard, MinHash banding, and SimHash
    blocking; md5 gram hashes so the min-selection orders identically
    cross-engine, making the oracle exact."""
    docs = _t(spark, sf_dir, "documents")
    from .operators.dedup import winnowing_pairs

    return winnowing_pairs(
        docs,
        k=_WINNOW_K,
        window=_WINNOW_W,
        min_shared=_WINNOW_MS,
        max_df=50,
    )


SQL_WINNOWING_DEDUP_PAIRS = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), kg AS (
  SELECT doc_id,
         unnest(generate_series(1, len(t) - {_WINNOW_K - 1})) AS pos,
         unnest(list_transform(
           generate_series(1, len(t) - {_WINNOW_K - 1}),
           i -> CAST(concat('0x', substr(md5(
                  array_to_string(t[i:i + {_WINNOW_K - 1}], ' ')), 1, 8))
                AS BIGINT))) AS h
  FROM toks WHERE len(t) >= {_WINNOW_K}
), win AS (
  SELECT doc_id, pos AS j,
         MIN(h) OVER w AS wmin,
         COUNT(*) OVER w AS cnt
  FROM kg
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
), sel AS (
  SELECT kg.doc_id, MAX(kg.pos) AS pos, win.wmin AS fp
  FROM win JOIN kg ON kg.doc_id = win.doc_id
       AND kg.pos BETWEEN win.j AND win.j + {_WINNOW_W - 1}
       AND kg.h = win.wmin
  WHERE win.cnt = {_WINNOW_W}
  GROUP BY kg.doc_id, win.j, win.wmin
), fps AS (
  SELECT DISTINCT doc_id, fp FROM sel
), kept AS (
  SELECT doc_id, fp FROM fps
  WHERE fp IN (
    SELECT fp FROM fps GROUP BY fp HAVING COUNT(DISTINCT doc_id) <= 50
  )
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {_WINNOW_MS}
"""


# --- unigram-LM perplexity ranking -------------------------------------------

_PPL_TOPK = 25


def q_doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus' most perplexing documents under its own unigram LM
    (operators/text.py unigram_nll) — the CCNet-style quality
    ordering, self-contained (no external LM artifact).  Ranking is
    orderBy(avg_nll desc, doc_id) + limit = TakeOrderedAndProject;
    output is BIGINT-only (the double sort key stays internal, its
    cross-engine bit-equality guaranteed by the pinned-order fold)."""
    docs = _t(spark, sf_dir, "documents")
    scored = unigram_nll(docs)
    top = scored.orderBy(F.col("avg_nll").desc(), "doc_id").limit(_PPL_TOPK)
    w = Window.orderBy(F.col("avg_nll").desc(), "doc_id")
    return top.select(
        "doc_id", "n_tokens", F.row_number().over(w).cast("long").alias("ppl_rank")
    )


SQL_DOC_LM_PERPLEXITY = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS w,
         unnest(generate_series(1, len(t))) AS pos
  FROM toks
), uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY w
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM uni
), per AS (
  SELECT tok.doc_id, tok.pos, ln(uni.cnt::DOUBLE) AS lp
  FROM tok JOIN uni ON tok.w = uni.w
), agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         list_reduce(list_prepend(0.0::DOUBLE, list(lp ORDER BY pos)),
                     (a, b) -> a + b) AS ll
  FROM per GROUP BY doc_id
), sc AS (
  SELECT doc_id, n_tokens,
         (n_tokens::DOUBLE * ln(tot.n_total::DOUBLE) - ll) / n_tokens::DOUBLE
           AS avg_nll
  FROM agg CROSS JOIN tot
)
SELECT doc_id, n_tokens,
       CAST(ROW_NUMBER() OVER (ORDER BY avg_nll DESC, doc_id) AS BIGINT)
         AS ppl_rank
FROM sc QUALIFY ppl_rank <= {_PPL_TOPK}
"""


def q_doc_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus' most perplexing documents under its own INTERPOLATED
    BIGRAM LM (operators/text.py bigram_nll — 0.5 * bigram MLE + 0.5 *
    unigram backoff): one modeling step past doc_lm_perplexity, and
    sensitive to token ORDER (a permuted document keeps its unigram
    score but breaks its transitions).  Same exactness scheme: each
    log-prob is one fixed IEEE tree replayed by the oracle, the
    per-doc sum folds in pinned position order, and the emitted
    ranking is BIGINT-only."""
    docs = _t(spark, sf_dir, "documents")
    from .operators.text import bigram_nll

    scored = bigram_nll(docs)
    top = scored.orderBy(F.col("avg_nll").desc(), "doc_id").limit(_PPL_TOPK)
    w = Window.orderBy(F.col("avg_nll").desc(), "doc_id")
    return top.select(
        "doc_id",
        "n_bigrams",
        F.row_number().over(w).cast("long").alias("ppl_rank"),
    )


SQL_DOC_BIGRAM_PERPLEXITY = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), tok AS (
  SELECT doc_id, unnest(t) AS w FROM toks
), uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY w
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM uni
), pairs AS (
  SELECT doc_id,
         unnest(generate_series(1, len(t) - 1)) AS pos,
         unnest(t[1:len(t) - 1]) AS l,
         unnest(t[2:len(t)]) AS r
  FROM toks WHERE len(t) >= 2
), big AS (
  SELECT l, r, CAST(COUNT(*) AS BIGINT) AS cb FROM pairs GROUP BY l, r
), per AS (
  SELECT p.doc_id, p.pos,
         ln(0.5 * (big.cb::DOUBLE / ul.cnt::DOUBLE)
            + 0.5 * (ur.cnt::DOUBLE / tot.n_total::DOUBLE)) AS lp
  FROM pairs p
  JOIN big ON big.l = p.l AND big.r = p.r
  JOIN uni ul ON ul.w = p.l
  JOIN uni ur ON ur.w = p.r
  CROSS JOIN tot
), agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         -list_reduce(list_prepend(0.0::DOUBLE, list(lp ORDER BY pos)),
                      (a, b) -> a + b) / COUNT(*)::DOUBLE AS avg_nll
  FROM per GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       CAST(ROW_NUMBER() OVER (ORDER BY avg_nll DESC, doc_id) AS BIGINT)
         AS ppl_rank
FROM agg QUALIFY ppl_rank <= {_PPL_TOPK}
"""


# --- int8 embedding quantization audit ---------------------------------------


def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 quantization audit (operators/similarity.py
    embedding_quant_stats): min/max calibration + quantized-code
    statistics per dimension — the report a vector store emits before
    committing to 4x compression of a 100 TB embedding column."""
    emb = _t(spark, sf_dir, "embeddings")
    from .operators.similarity import embedding_quant_stats

    return embedding_quant_stats(emb)


SQL_EMBEDDING_QUANTIZATION = """
WITH v AS (
  SELECT unnest(generate_series(0, len(embedding) - 1)) AS dim,
         unnest(embedding) AS val
  FROM embeddings
), s AS (
  SELECT dim, MIN(val) AS mn, MAX(val) AS mx FROM v GROUP BY dim
), q AS (
  SELECT v.dim,
         CASE WHEN s.mx = s.mn THEN CAST(0 AS BIGINT)
              ELSE CAST(floor((v.val::DOUBLE - s.mn::DOUBLE) * 255.0
                              / (s.mx::DOUBLE - s.mn::DOUBLE)
                              + 0.5) AS BIGINT)
         END AS qv
  FROM v JOIN s ON v.dim = s.dim
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(COUNT(DISTINCT qv) AS BIGINT) AS n_levels,
       MIN(qv) AS q_min, MAX(qv) AS q_max,
       CAST(SUM(qv) AS BIGINT) AS q_sum
FROM q GROUP BY dim
"""


def build_trainprep_queries(
    sql_dedup_clusters: str,
    sql_jaccard_pairs: str | None = None,
    sql_incremental_dedup: str | None = None,
) -> dict:
    """Registry fragment; ``sql_dedup_clusters`` (the recursive-CTE
    cluster oracle), ``sql_jaccard_pairs`` (the exact-pair oracle), and
    ``sql_incremental_dedup`` (the cross-split pair oracle) come from
    testdata_queries — passed in, not imported, so there is no module
    cycle."""
    extra = {}
    if sql_jaccard_pairs is not None:
        extra["split_leakage_audit"] = (
            q_split_leakage_audit,
            _sql_split_leakage(sql_jaccard_pairs),
        )
    if sql_incremental_dedup is not None:
        extra["streaming_index_dedup"] = (
            q_streaming_index_dedup,
            sql_incremental_dedup,
        )
        extra["incremental_index_update"] = (
            q_incremental_index_update,
            SQL_INCREMENTAL_INDEX_UPDATE,
        )
    return {
        "cluster_aware_split": (
            q_cluster_aware_split,
            _sql_cluster_aware_split(sql_dedup_clusters),
        ),
        "gopher_quality_flags": (q_gopher_quality_flags, _sql_gopher()),
        "bpe_merge_pairs": (q_bpe_merge_pairs, SQL_BPE_MERGE_PAIRS),
        "duplicate_passages": (q_duplicate_passages, SQL_DUPLICATE_PASSAGES),
        "duplicate_spans": (q_duplicate_spans, SQL_DUPLICATE_SPANS),
        "substring_dedup_apply": (
            q_substring_dedup_apply,
            SQL_SUBSTRING_DEDUP_APPLY,
        ),
        "doc_lm_perplexity": (q_doc_lm_perplexity, SQL_DOC_LM_PERPLEXITY),
        "doc_bigram_perplexity": (
            q_doc_bigram_perplexity,
            SQL_DOC_BIGRAM_PERPLEXITY,
        ),
        "winnowing_dedup_pairs": (
            q_winnowing_dedup_pairs,
            SQL_WINNOWING_DEDUP_PAIRS,
        ),
        "corpus_curation_report": (
            q_corpus_curation_report,
            SQL_CORPUS_CURATION_REPORT,
        ),
        "embedding_quantization": (
            q_embedding_quantization,
            SQL_EMBEDDING_QUANTIZATION,
        ),
        "collocation_pmi": (q_collocation_pmi, SQL_COLLOCATION_PMI),
        "cdc_chunking": (q_cdc_chunking, SQL_CDC_CHUNKING),
        "media_blob_dedup": (q_media_blob_dedup, SQL_MEDIA_BLOB_DEDUP),
        "bpe_train_merges": (q_bpe_train_merges, SQL_BPE_TRAIN_MERGES),
        "bpe_compression": (q_bpe_compression, SQL_BPE_COMPRESSION),
        "curriculum_interleave": (
            q_curriculum_interleave,
            SQL_CURRICULUM_INTERLEAVE,
        ),
        "vocab_growth_curve": (
            q_vocab_growth_curve,
            SQL_VOCAB_GROWTH_CURVE,
        ),
        **extra,
    }


# --- collocation mining (PMI) ------------------------------------------------

_PMI_TOPK = 20
_PMI_MIN_COUNT = 5


def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PMI collocations over adjacent token pairs
    (operators/text.py pmi_pairs) — the phrase/multi-word-expression
    mining pass of a vocabulary build.  Ranking by the pinned IEEE
    expression tree, BIGINT-only output, deterministic (pmi desc,
    pair asc) cutoff."""
    from .operators.text import pmi_pairs

    docs = _t(spark, sf_dir, "documents")
    scored = pmi_pairs(docs, min_count=_PMI_MIN_COUNT)
    w = Window.orderBy(F.col("pmi").desc(), "left_tok", "right_tok")
    return (
        scored.orderBy(F.col("pmi").desc(), "left_tok", "right_tok")
        .limit(_PMI_TOPK)
        .select(
            "left_tok",
            "right_tok",
            "pair_count",
            F.row_number().over(w).cast("long").alias("pmi_rank"),
        )
    )


SQL_COLLOCATION_PMI = f"""
WITH toks AS (SELECT string_split_regex(trim(text), '\\s+') AS t FROM documents),
tok AS (SELECT unnest(t) AS w FROM toks),
uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
         i -> struct_pack(l := t[i], r := t[i + 1]))) AS p
  FROM toks
),
big AS (SELECT p.l AS l, p.r AS r, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY 1, 2),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS np FROM big),
sc AS (
  SELECT big.l, big.r, big.c,
         ln((big.c::DOUBLE * n.np::DOUBLE) / (ul.c::DOUBLE * ur.c::DOUBLE)) AS pmi
  FROM big
  JOIN uni ul ON big.l = ul.w
  JOIN uni ur ON big.r = ur.w
  CROSS JOIN n
  WHERE big.c >= {_PMI_MIN_COUNT}
)
SELECT l AS left_tok, r AS right_tok, c AS pair_count,
       CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, l, r) AS BIGINT) AS pmi_rank
FROM sc QUALIFY pmi_rank <= {_PMI_TOPK}
"""


# --- content-defined chunking ------------------------------------------------

_CDC_WINDOW = 4
_CDC_GATE = "10000000"  # md5-prefix < 1/16 of the 32-bit space


def q_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking audit (operators/dedup.py
    cdc_chunk_stats): hash-gated cut boundaries that re-align after
    insertions (the rsync/LBFS construction at token granularity) —
    the chunking a dedup STORE wants, next to doc_chunking's fixed
    windows for model context packing.  Pure in-row array algebra:
    zero shuffles at any scale."""
    from .operators.dedup import cdc_chunk_stats

    docs = _t(spark, sf_dir, "documents")
    return cdc_chunk_stats(
        docs, window=_CDC_WINDOW, rate_nhex_lt=_CDC_GATE
    )


SQL_CDC_CHUNKING = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), cuts AS (
  SELECT doc_id, len(t) AS n,
    CASE WHEN len(t) >= {2 * _CDC_WINDOW} THEN
      list_filter(generate_series({_CDC_WINDOW}, len(t) - {_CDC_WINDOW}),
        i -> substring(md5(array_to_string(t[i - {_CDC_WINDOW - 1}:i], ' ')), 1, 8)
             < '{_CDC_GATE}')
    ELSE [] END AS cutpos
  FROM toks
), bounds AS (
  SELECT doc_id, n,
         list_concat(list_concat([0], cutpos), [n]) AS b,
         len(cutpos) AS ncuts
  FROM cuts
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(ncuts + 1 AS BIGINT) AS n_chunks,
       CAST(list_max(list_transform(generate_series(1, len(b) - 1),
                                    i -> b[i + 1] - b[i])) AS BIGINT)
         AS max_chunk_tokens
FROM bounds
"""


# --- binary media blob dedup -------------------------------------------------


def q_media_blob_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over BINARY media blobs — the first stage of any
    multimodal corpus pipeline (identical image/audio files re-crawled
    under different URIs dedup by content digest before any decode).
    One hash aggregate on md5(content) with per-group byte accounting;
    blob bytes never shuffle (the digest does).  Completes the dedup
    modality set: lexical (MinHash/SimHash), semantic (embedding),
    passage (windows), and now raw-bytes."""
    from .operators.multimodal import documents_as_media

    media = documents_as_media(_t(spark, sf_dir, "documents"))
    return media.groupBy(F.md5("content").alias("blob_fp")).agg(
        F.min("media_id").alias("keeper_media_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.sum(F.length("content")).cast("long").alias("total_bytes"),
    )


SQL_MEDIA_BLOB_DEDUP = """
SELECT md5(text) AS blob_fp,
       MIN(doc_id) AS keeper_media_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
FROM documents GROUP BY 1
"""


# --- BPE training loop -------------------------------------------------------

_BPE_TRAIN_ROUNDS = 3


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual BPE training loop (operators/bpe.py bpe_train), not
    just one iteration's counts: K rounds of pair-count -> argmax ->
    in-row greedy merge rewrite.  Per round: one map-side-combined
    aggregate, a TakeOrderedAndProject argmax whose single row is the
    only driver traffic, and a narrow fold rewrite.  Oracle: the
    identical match-with-previous fold unrolled K times in DuckDB
    (list_reduce over singleton lists — same greedy non-overlap
    semantics, pinned by unit tests against a pure-Python BPE)."""
    from .operators.bpe import bpe_train

    docs = _t(spark, sf_dir, "documents")
    return bpe_train(docs, n_merges=_BPE_TRAIN_ROUNDS)


def _sql_bpe_train(n_merges: int = _BPE_TRAIN_ROUNDS) -> str:
    parts = [
        "WITH t1 AS (SELECT string_split_regex(trim(text), '\\s+') AS t "
        "FROM documents)"
    ]
    for k in range(1, n_merges + 1):
        parts.append(f""",
p{k} AS (
  SELECT p.l AS l, p.r AS r, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
               i -> struct_pack(l := t[i], r := t[i + 1]))) AS p FROM t{k})
  GROUP BY 1, 2
),
m{k} AS (SELECT l, r, c FROM p{k} ORDER BY c DESC, l, r LIMIT 1)""")
        if k < n_merges:
            parts.append(f""",
t{k + 1} AS (
  SELECT list_reduce(list_transform(t, x -> [x]),
    (acc, e) -> CASE WHEN len(acc) > 0 AND acc[-1] = m{k}.l AND e[1] = m{k}.r
                THEN list_append(acc[:-2], m{k}.l || '+' || m{k}.r)
                ELSE list_concat(acc, e) END) AS t
  FROM t{k} CROSS JOIN m{k}
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, l AS left_tok, "
        f"r AS right_tok, c AS cnt FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return "".join(parts) + "\n" + union


SQL_BPE_TRAIN_MERGES = _sql_bpe_train()


def q_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-application closure of bpe_train_merges: apply the K
    learned merge rules to the corpus (K chained in-row folds — narrow
    maps, zero shuffles beyond the rule learning itself) and report
    per-source token totals before/after — the compression statement a
    tokenizer change ships with.  Integer-only output."""
    from .operators.bpe import bpe_train, merge_pair
    from .operators.text import tokens
    from .operators.util import spread

    docs = _t(spark, sf_dir, "documents")
    rules = bpe_train(docs, n_merges=_BPE_TRAIN_ROUNDS).orderBy("merge_rank").collect()
    toks = spread(docs).select("source", tokens("text").alias("t"))
    merged = F.col("t")
    for r in rules:
        merged = merge_pair(merged, r["left_tok"], r["right_tok"])
    staged = toks.select(
        "source",
        F.size("t").cast("long").alias("n_before"),
        F.size(merged).cast("long").alias("n_after"),
    )
    return staged.groupBy("source").agg(
        F.sum("n_before").alias("tokens_before"),
        F.sum("n_after").alias("tokens_after"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _sql_bpe_compression(n_merges: int = _BPE_TRAIN_ROUNDS) -> str:
    # reuse the unrolled training CTE chain, but carry source through
    # and apply the final (K-th) rule too, then compare token counts.
    parts = [
        "WITH t1 AS (SELECT source, "
        "string_split_regex(trim(text), '\\s+') AS t FROM documents)"
    ]
    for k in range(1, n_merges + 1):
        parts.append(f""",
p{k} AS (
  SELECT p.l AS l, p.r AS r, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
               i -> struct_pack(l := t[i], r := t[i + 1]))) AS p FROM t{k})
  GROUP BY 1, 2
),
m{k} AS (SELECT l, r, c FROM p{k} ORDER BY c DESC, l, r LIMIT 1),
t{k + 1} AS (
  SELECT source, list_reduce(list_transform(t, x -> [x]),
    (acc, e) -> CASE WHEN len(acc) > 0 AND acc[-1] = m{k}.l AND e[1] = m{k}.r
                THEN list_append(acc[:-2], m{k}.l || '+' || m{k}.r)
                ELSE list_concat(acc, e) END) AS t
  FROM t{k} CROSS JOIN m{k}
)""")
    last = n_merges + 1
    return "".join(parts) + f"""
SELECT a.source, a.tokens_before, b.tokens_after, a.n_docs
FROM (SELECT source, CAST(SUM(len(t)) AS BIGINT) AS tokens_before,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM t1 GROUP BY source) a
JOIN (SELECT source, CAST(SUM(len(t)) AS BIGINT) AS tokens_after
      FROM t{last} GROUP BY source) b USING (source)
"""


SQL_BPE_COMPRESSION = _sql_bpe_compression()


# --- naive-split leakage audit -----------------------------------------------


def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies the defect cluster_aware_split exists to fix: assign
    splits NAIVELY (per-doc hash band, ignoring near-dup structure),
    then count verified near-dup pairs by the (split, split) cell they
    land in.  Off-diagonal cells are evaluation leakage — a train doc
    whose near-duplicate sits in val/test.  The audit a pipeline runs
    before trusting any eval number.

    Plan: the pair set is the EXACT shared-shingle join
    (operators/dedup.py jaccard_pairs — the audit should count REAL
    near-dup pairs, and the exact set makes the oracle assert at every
    scale factor, VERDICT r8 item 2; the LSH pair path keeps its own
    scale-valid contract in minhash_near_dup); the split is a narrow
    map joined twice (both ends of each pair); the output is a
    <=9-cell table."""
    from .operators.dedup import jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    naive = split_assign(docs.select("doc_id"), "doc_id", TRAINPREP_SPLITS)
    pairs = jaccard_pairs(docs, exact=True).select("id_a", "id_b")
    sa = naive.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = naive.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                (F.col("split_a") != F.col("split_b")).cast("long")
            ).alias("n_leaked"),
        )
    )


def _sql_split_leakage(sql_jaccard_pairs: str) -> str:
    band = split_band_sql("doc_id", TRAINPREP_SPLITS)
    return f"""
WITH pairs AS (SELECT id_a, id_b FROM ({sql_jaccard_pairs}) j),
splits AS (SELECT doc_id, {band} AS split FROM documents)
SELECT sa.split AS split_a, sb.split AS split_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaked
FROM pairs
JOIN splits sa ON sa.doc_id = pairs.id_a
JOIN splits sb ON sb.doc_id = pairs.id_b
GROUP BY 1, 2
"""


# --- streaming incremental index dedup ---------------------------------------


def q_streaming_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest dedup loop AS AN ACTUAL STREAM: arrivals
    (doc_id % 5 == 0, the same split as incremental_corpus_dedup) land
    as parquet files in a watched directory, a file-source stream with
    maxFilesPerTrigger=1 + availableNow delivers them in MULTIPLE
    micro-batches, and foreachBatch probes each batch against the
    standing corpus' precomputed MinHash index
    (operators/dedup.py minhash_lsh_join — batch band rows broadcast,
    corpus never re-read, never re-shingled).

    Because each batch's cross-corpus candidates are independent of
    how arrivals are batched, the union over micro-batches equals the
    one-shot batch result — so this SHARES incremental_corpus_dedup's
    oracle (the scale-valid contract form: exact cross-pair echo +
    precision/recall-floor sentinels over the exact-verified
    candidates, VERDICT r8 item 2), and the equality IS the
    exactly-once/batching-invariance statement.  Micro-batch delivery
    (>= 2 batches) is pinned in tests/test_trainprep.py.

    Scale shape: near-dup pairs are data-proportional on
    duplicate-heavy corpora, so each batch's pairs are WRITTEN to a
    per-batch parquet sink (sink_foreach_batch) and the result is the
    sink read back — no pair rows ever accumulate on the driver (the
    returned plan is a FileScan of the sink, pinned in
    tests/test_trainprep.py)."""
    from .operators.dedup import cross_dedup_contract, exact_cross_pairs

    docs = _t(spark, sf_dir, "documents")
    cand = streaming_index_candidates(spark, sf_dir)
    exact_cross = exact_cross_pairs(
        docs, (F.col("doc_id") % 5 == 0).cast("int")
    )
    return cross_dedup_contract(docs, exact_cross, cand)


def streaming_index_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming half of q_streaming_index_dedup, exposed so the
    plan-shape pin can assert the scale property directly: the returned
    frame must SCAN THE PER-BATCH SINK (>= 2 ``batch_id=`` partitions —
    candidate rows never accumulate on the driver), which the full
    contract query then feeds into exact verification."""
    import os
    import tempfile

    from .operators.dedup import minhash_index, minhash_lsh_join
    from .streaming.incremental import (
        read_batch_sink,
        sink_foreach_batch,
        stream_file_source,
    )

    from .phases import phase

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    with phase("build"):
        idx = minhash_index(corpus)

    tmp = tempfile.mkdtemp(prefix="c360_stream_idx_")
    arrivals = os.path.join(tmp, "arrivals")
    # two "days" of arrivals -> two files -> two micro-batches
    new.filter(F.col("doc_id") % 10 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(arrivals)
    new.filter(F.col("doc_id") % 10 != 0).coalesce(1).write.mode(
        "append"
    ).parquet(arrivals)

    stream = stream_file_source(
        spark, arrivals, docs.schema, max_files_per_trigger=1
    )
    sink = os.path.join(tmp, "pairs")

    def probe(batch_df: DataFrame) -> DataFrame:
        return minhash_lsh_join(
            batch_df, idx, num_hashes=32, bands=8, verify_threshold_pct=None
        ).select("new_id", "corpus_id")

    sink_foreach_batch(stream, os.path.join(tmp, "ckpt"), sink, probe)
    return read_batch_sink(spark, sink).select("new_id", "corpus_id")


# --- growing-index daily loop ------------------------------------------------


def q_incremental_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE across ingest days: day 1's arrivals are
    probed against the standing corpus index, then their signatures
    are APPENDED to it, so day 2's arrivals dedup against corpus AND
    day 1 — the property that makes incremental dedup converge instead
    of accumulating cross-day duplicates forever.  (The streaming form,
    streaming_index_dedup, probes a static index; this closes the
    update half of the loop.)

    Per day: one probe (batch band rows broadcast, corpus never
    re-read) + one signature append (narrow map over the day's docs —
    the index grows by exactly the arrivals' ~256 B/doc signatures).
    Driver traffic is nothing but the loop control; pair results stay
    DataFrames unioned lazily.

    Restated as the scale-valid probe contract (VERDICT r8 item 2,
    operators/dedup.py cross_dedup_contract): the exact
    cross-membership Jaccard pair echo — day-1 arrivals vs corpus;
    day-2 arrivals vs corpus AND day 1, encoded as an arrival-rank
    orientation (corpus=0 < day1=1 < day2=2) — plus the precision
    sentinel over the EXACT-verified candidates and the banding
    recall-floor sentinel, all assertable at every SF (the former
    oracle asserted the exact set against the signature-verified
    probe, a pinned-corpus coincidence)."""
    from .operators.dedup import (
        cross_dedup_contract,
        exact_cross_pairs,
        minhash_index,
        minhash_lsh_join,
    )
    from .operators.sets import union_by_name_all

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    days = [
        docs.filter(F.col("doc_id") % 10 == 0),
        docs.filter((F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 10 != 0)),
    ]
    idx = minhash_index(corpus)
    cands = []
    for day in days:
        cands.append(
            minhash_lsh_join(
                day, idx, num_hashes=32, bands=8, verify_threshold_pct=None
            ).select("new_id", "corpus_id")
        )
        idx = idx.unionByName(minhash_index(day))
    rank = (
        F.when(F.col("doc_id") % 10 == 0, 1)
        .when(F.col("doc_id") % 5 == 0, 2)
        .otherwise(0)
    )
    return cross_dedup_contract(
        docs, exact_cross_pairs(docs, rank), union_by_name_all(cands)
    )


SQL_INCREMENTAL_INDEX_UPDATE = """
-- Scale-valid contract oracle (VERDICT r8 item 2): exact
-- cross-membership 3-gram Jaccard >= 30% pairs as the legality echo,
-- plus the probe's precision and recall-floor sentinel rows. Membership
-- encodes the growing index: day-1 arrivals (doc_id % 10 = 0) see only
-- the corpus (doc_id % 5 <> 0); day-2 arrivals (doc_id % 5 = 0 AND
-- % 10 <> 0) see corpus + day 1.
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
        FROM toks WHERE len(t) >= 3)
),
sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s
  WHERE (a.doc_id % 10 = 0 AND b.doc_id % 5 <> 0)
     OR (a.doc_id % 5 = 0 AND a.doc_id % 10 <> 0
         AND (b.doc_id % 5 <> 0 OR b.doc_id % 10 = 0))
  GROUP BY 1, 2
)
SELECT new_id, corpus_id, TRUE AS legal
FROM pairs
JOIN sizes sa ON sa.doc_id = new_id
JOIN sizes sb ON sb.doc_id = corpus_id
WHERE inter * 100 >= (sa.nsh + sb.nsh - inter) * 30
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), TRUE  -- precision sentinel
UNION ALL
SELECT CAST(-2 AS BIGINT), CAST(-2 AS BIGINT), TRUE  -- recall floor (high-J)
"""


# --- deterministic curriculum interleave (stride scheduling) ------------------


def q_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-order curriculum: a deterministic stride-scheduled
    interleave of documents across sources, weighted by each source's
    character mass — the data-ORDERING step after mixture weighting
    (source_mixture_plan says how MUCH of each source; this says
    WHERE in the epoch each doc lands, so no source clumps at the
    start and every prefix of the stream is ~mixture-proportional,
    which is what keeps early training steps unbiased).

    Stride scheduling [Waldspurger & Weihl, OSDI 1994]: doc #r of
    source s runs at virtual time r/weight(s).  weight = total chars,
    so vt = (r * 10^12) div chars(s) in integer fixed point — bigger
    sources tick more often; ties after the truncating division break
    by (source, r), making the order a total function of the corpus
    (no floats, no RNG).  vt overflows int64 only past ~9.2M docs per
    source (r * 10^12 bound); shard the epoch first at that size.

    The global position comes from operators/windows.py
    global_row_number — the distributed zipWithIndex (range-partition
    + per-partition offsets, one #partitions-row metadata collect),
    NOT a single-partition window, so the epoch order materializes
    with full parallelism at corpus scale.
    """
    from .operators.windows import global_row_number

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    weights = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("chars")
    )
    ranked = docs.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("source").orderBy("doc_id")
        ).cast("long"),
    )
    vt = (
        ranked.join(F.broadcast(weights), "source")
        .withColumn(
            "vt", F.expr("(r * 1000000000000) div chars").cast("long")
        )
        .select("doc_id", "source", "r", "vt")
    )
    out = global_row_number(
        vt, ["vt", "source", "r"], col_name="curriculum_pos"
    )
    return out.select("curriculum_pos", "doc_id", "source", "vt")


SQL_CURRICULUM_INTERLEAVE = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
              AS BIGINT) AS r
  FROM documents
),
w AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source),
vt AS (
  SELECT ranked.doc_id, ranked.source, ranked.r,
         CAST((ranked.r * 1000000000000) // w.chars AS BIGINT) AS vt
  FROM ranked JOIN w USING (source)
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY vt, source, r) AS BIGINT)
         AS curriculum_pos,
       doc_id, source, vt
FROM vt
"""


# --- vocabulary growth (Heaps' law) ------------------------------------------

_VOCAB_BUCKETS = 20


def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law audit): sweep the corpus in
    doc_id order, split it into {b} equal-width doc_id buckets, and
    report per bucket the token volume, the NEW types first seen
    there, and both cumulatives — the curve that sizes a tokenizer's
    vocab budget and flags corpus drift (a bucket whose new-type rate
    jumps is a new domain/language entering the feed; one that flat-
    lines means the vocab has saturated).

    Scale shape: the corpus-sized explode feeds two MAP-SIDE-COMBINED
    aggregates — min(doc_id) per token (vocabulary-sized shuffle, the
    exact first-occurrence construction, no windowed distinct over
    prefixes) and per-bucket token counts (bucket-sized) — and the
    cumulative window runs over {b} rows.  Nothing corpus-sized ever
    sorts or windows.  All counts are integers; bucket bounds come
    from the min/max doc_id scalar broadcast (the repo's two-pass
    pattern), so the result is a pure function of the corpus.
    """
    from .operators.text import tokens

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bounds = docs.agg(
        F.min("doc_id").alias("lo"),
        (F.max("doc_id") - F.min("doc_id") + 1).alias("span"),
    )
    tok = (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .crossJoin(F.broadcast(bounds))
        .withColumn(
            "bucket",
            F.expr(f"((doc_id - lo) * {_VOCAB_BUCKETS}) div span"),
        )
    )
    per_bucket = tok.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    first_seen = (
        tok.groupBy("token")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bucket.join(first_seen, "bucket", "left")
        .withColumn("new_types", F.coalesce("new_types", F.lit(0)))
        .select(
            "bucket",
            "n_docs",
            "n_tokens",
            F.col("new_types").cast("long").alias("new_types"),
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            F.sum("new_types").over(w).cast("long").alias("cum_types"),
        )
    )


q_vocab_growth_curve.__doc__ = q_vocab_growth_curve.__doc__.format(
    b=_VOCAB_BUCKETS
)


SQL_VOCAB_GROWTH_CURVE = f"""
WITH b AS (
  SELECT MIN(doc_id) AS lo, MAX(doc_id) - MIN(doc_id) + 1 AS span
  FROM documents
),
tok AS (
  SELECT doc_id,
         ((doc_id - (SELECT lo FROM b)) * {_VOCAB_BUCKETS})
           // (SELECT span FROM b) AS bucket,
         unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
),
per_bucket AS (
  SELECT bucket, COUNT(*) AS n_tokens,
         COUNT(DISTINCT doc_id) AS n_docs
  FROM tok GROUP BY bucket
),
first_seen AS (
  SELECT bucket, COUNT(*) AS new_types FROM (
    SELECT token, MIN(bucket) AS bucket FROM tok GROUP BY token
  ) GROUP BY bucket
)
SELECT p.bucket,
       CAST(p.n_docs AS BIGINT) AS n_docs,
       CAST(p.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(f.new_types, 0) AS BIGINT) AS new_types,
       CAST(SUM(p.n_tokens) OVER (ORDER BY p.bucket
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       CAST(SUM(COALESCE(f.new_types, 0)) OVER (ORDER BY p.bucket
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
FROM per_bucket p LEFT JOIN first_seen f ON f.bucket = p.bucket
"""
