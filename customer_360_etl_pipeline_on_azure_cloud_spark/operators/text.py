"""Text-analysis operators for large-scale training-data pipelines.

Designed for the `documents` table shape (doc_id, text, lang, source,
n_chars) but parameterized on column names.  Scale notes: every
operator is a narrow map (no shuffle) except the aggregating ones,
which use partial aggregation. At 100 TB, text ops are scan-bound —
keeping them codegen-friendly is the entire game.

Corpus statistics — the contract of every operator in this module; the
per-function docstrings point here:

* **Built-in column expressions only.**  Tokenizing, hashing, counting
  and scoring are JVM-side column functions (whole-stage codegen or
  array higher-order functions); nothing drops to Python per row.
* **Counts are integer-exact.**  Token, pair, class and bucket counts
  are BIGINT aggregates, and rule flags compare them by
  cross-multiplication, so any engine replays them exactly.
* **Doubles fold in pinned order.**  A per-group double sum is
  :func:`_ordered_sum`: ``array_sort`` over ``(key, value)`` structs,
  then a left fold from 0.0 — DuckDB's
  ``list_reduce(list(value ORDER BY key))`` adds the same terms in the
  same order, so the sum is deterministic under any partitioning.
  Each term is one fixed IEEE tree (:func:`_bm25` for BM25).
* **Hashing is md5.**  :func:`hashed_feature` takes the first 8 hex
  chars of ``md5(token)`` — the same bucket in every engine, where
  ``xxhash64``/``hash`` are Spark-specific.
* **ln-derived doubles stay internal.**  ``ln`` is not bit-portable
  (the JVM's fdlibm and glibc differ by 1 ulp on many integer inputs,
  ln(3) among them — measured), so a double that goes through ``ln``
  (nll, PMI, KL, DSIR) is only a sort key: what crosses to an oracle is
  the BIGINT rank over it.  BM25 uses the rational RSJ idf (IEEE
  +,-,*,/ only), so its scores are bit-identical across engines.
"""

from __future__ import annotations

from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import _col
from .util import finalize, materialize, spread

#: Tiny in-expression stopword lists for the language-ID heuristic.
#: Deliberately small: the heuristic is a cheap n-gram/stopword vote,
#: not a model (the container has no langid libs; see SURVEY §north-star).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is", "to", "in"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "fr": ("le", "la", "les", "et", "est", "une"),
}


def tokens(text: Column | str, pattern: str = r"\s+") -> Column:
    """Whitespace tokenization as an array column."""
    return F.split(F.trim(_col(text)), pattern)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("long")


def bpe_ish_token_count(text: Column | str) -> Column:
    """Subword-ish token estimate: count word pieces AND punctuation
    runs with a BPE-flavored regex — cheap proxy for tokenizer counts
    when budgeting corpora (no tokenizer libs in-container)."""
    pieces = F.regexp_extract_all(
        F.lower(_col(text)), F.lit(r"[a-z]{1,6}|[0-9]+|[^a-z0-9\s]"), 0
    )
    return F.size(pieces).cast("long")


def stopword_hits(text: Column | str, words: tuple[str, ...]) -> Column:
    """Number of tokens that are in ``words`` — array filter, JVM-side."""
    return F.size(
        F.filter(tokens(text), lambda t: t.isin(*words))
    ).cast("long")


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID by stopword vote with a fixed precedence
    order (en > de > es > fr > unknown) for deterministic ties."""
    hits = {lang: stopword_hits(text, words) for lang, words in LANG_STOPWORDS.items()}
    en, de, es, fr = hits["en"], hits["de"], hits["es"], hits["fr"]
    return (
        F.when((en >= de) & (en >= es) & (en >= fr) & (en > 0), "en")
        .when((de >= es) & (de >= fr) & (de > 0), "de")
        .when((es >= fr) & (es > 0), "es")
        .when(fr > 0, "fr")
        .otherwise("unknown")
    )


def non_alnum_count(text: Column | str) -> Column:
    """Characters that are not [a-z0-9 ] after lowering — punctuation/
    symbol load, an ingredient of quality scoring."""
    text = _col(text)
    return (
        F.length(text) - F.length(F.regexp_replace(F.lower(text), "[^a-z0-9 ]", ""))
    ).cast("long")


def quality_class(
    text: Column | str,
    min_tokens: int = 10,
    stop_ratio_pct: int = 10,
) -> Column:
    """Coarse quality label from integer-ratio rules (integer math keeps
    the classification engine-exact for oracles): 'fluent' when stopword
    density >= stop_ratio_pct%, 'fragment' when shorter than min_tokens,
    else 'ok'."""
    n_tok = token_count(text)
    n_stop = stopword_hits(text, LANG_STOPWORDS["en"])
    return (
        F.when(n_tok < min_tokens, "fragment")
        .when(n_stop * 100 >= n_tok * stop_ratio_pct, "fluent")
        .otherwise("ok")
    )


def fingerprint(text: Column | str) -> Column:
    """Normalized content fingerprint: md5 of the text with everything
    but [a-z0-9] stripped — catches whitespace/punctuation-variant exact
    dups. For shift-tolerant fingerprints see dedup.minhash_signature."""
    return F.md5(F.regexp_replace(F.lower(_col(text)), "[^a-z0-9]", ""))


def term_freq(toks: Column, term: str) -> Column:
    """Occurrences of ``term`` in a token-array column (JVM-side
    filter, no Python)."""
    return F.size(F.filter(toks, lambda t: t == F.lit(term))).cast("long")


def _ordered_sum(key: str, val: str) -> Column:
    """Aggregate: the per-group sum of the double column ``val``, added
    left to right in ``key`` order (see the module docstring)."""
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(key, val))), lambda s: s[val]
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )


def _bm25(
    tf: Column, idf: Column, dl: Column, avgdl: float, k1: float, b: float
) -> Column:
    """One term's BM25 contribution, one fixed IEEE tree:
    ``idf * (tf * (k1+1)) / (tf + k1 * ((1-b) + b * (dl / avgdl)))``."""
    return idf * (
        (tf * F.lit(k1 + 1.0))
        / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (dl / F.lit(avgdl))))
    )


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    materialize: bool = True,
) -> DataFrame:
    """BM25 relevance top-k for a fixed term query — classic lexical
    retrieval over the corpus, two passes:

    pass 1 (one aggregate row -> driver, the bounded scalar-broadcast
    pattern): corpus size N, total token count, per-term document
    frequency. pass 2: per-doc score as a single codegen'd expression
    with the pass-1 scalars folded in as literals, then global top-k via
    TakeOrderedAndProject (never a full sort).

    The idf is the rational RSJ ``(N - df + 0.5) / (df + 0.5)`` (see
    the module docstring): same ranking as the log-idf (monotone in the
    log's argument), scores bit-identical on Spark and the DuckDB oracle.

    The tokenized projection is cached as a plan-time barrier: without
    it CollapseProject inlines the split() into the dl expression and
    every per-term filter lambda (HOFs evaluate interpreted), paying
    len(terms)+1 tokenizations per row. Caller inherits the usual
    finalize() lifetime: the returned top-k is localCheckpointed and the
    cache released.
    """
    if not terms:
        raise ValueError("bm25_topk: terms must be non-empty")
    toks_df = df.select(
        F.col(id_col), tokens(text_col).alias("__toks")
    )
    toks_df = spread(toks_df).cache()
    base = toks_df.select(
        id_col,
        F.size("__toks").cast("long").alias("__dl"),
        *[
            term_freq(F.col("__toks"), t).alias(f"__tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__dl").alias("sumdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    n = stats["n"]
    avgdl = stats["sumdl"] / n  # Python IEEE division == oracle's
    score = reduce(
        Column.__add__,
        [
            _bm25(
                F.col(f"__tf{i}"),
                F.lit((n - stats[f"df{i}"] + 0.5) / (stats[f"df{i}"] + 0.5)),
                F.col("__dl"),
                avgdl,
                k1,
                b,
            )
            for i in range(len(terms))
        ],
    )

    topk = (
        base.select(id_col, score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )
    if not materialize:
        # lazy form for plan inspection / composition; caller owns the
        # toks_df cache lifetime (it is reachable via the plan)
        return topk
    return finalize(topk, toks_df)


def bm25_topk_multi(
    df: DataFrame,
    queries: dict[int, list[str]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-query BM25 top-k for a SET of queries — the curation-pipeline
    retrieval shape (thousands of queries against one corpus), vs
    :func:`bm25_topk`'s single fixed query.

    Scale design (why this is not a loop over bm25_topk):

    * the corpus is tokenized ONCE; per-term counts come from a
      posting-list build — explode tokens, keep only query terms via a
      BROADCAST semi-join on the (small) distinct-term set, then one
      (doc, term) count aggregate. Linear in corpus size, independent of
      query count. The doc length rides along the exploded rows (an
      8-byte column in an already-narrow stage), so scoring needs NO
      separate corpus-wide (doc_id, dl) shuffle join — the posting
      aggregate is the only corpus-scale shuffle in the whole plan.
    * query terms join the postings BROADCAST, so adding queries never
      reshuffles the corpus.
    * per-query top-k is a window PARTITIONED BY query_id — never a
      global orderBy (VERDICT r4 item 5).

    The score is the term contributions summed in ``term_idx`` order
    (see the module docstring); the OUTPUT carries only BIGINT ranks.
    Docs matching no query term are absent (score would be 0).

    Output: (query_id, doc_id, rank) with rank in 1..k.
    """
    spark = df.sparkSession
    qrows = [
        (int(qid), i, t)
        for qid, terms in queries.items()
        for i, t in enumerate(terms)
    ]
    qterms = spark.createDataFrame(
        qrows, "query_id long, term_idx int, term string"
    )

    toks_df = spread(
        df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__toks"))
    ).cache()
    dl = toks_df.select(
        "doc_id", F.size("__toks").cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sumdl")
    ).collect()[0]
    n = stats["n"]
    avgdl = stats["sumdl"] / n  # same IEEE division the oracle performs

    postings = (
        toks_df.select(
            "doc_id",
            F.size("__toks").cast("long").alias("dl"),
            F.explode("__toks").alias("term"),
        )
        .join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.first("dl").alias("dl"),
        )
    )
    term_df = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df_t")
    )

    idf = (F.lit(n) - F.col("df_t") + F.lit(0.5)) / (F.col("df_t") + F.lit(0.5))
    contrib = _bm25(F.col("tf").cast("double"), idf, F.col("dl"), avgdl, k1, b)
    contribs = (
        postings.join(F.broadcast(qterms), "term")
        .join(F.broadcast(term_df), "term")
        .select("query_id", "doc_id", "term_idx", contrib.alias("contrib"))
    )
    scores = contribs.groupBy("query_id", "doc_id").agg(
        _ordered_sum("term_idx", "contrib").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    out = (
        scores.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank")
    )
    return finalize(out, toks_df)


def text_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One-pass per-document profile: counts, language, quality,
    fingerprint. Single narrow projection — no shuffle (beyond spreading
    single-partition small inputs across cores)."""
    df = spread(df)
    t = F.col(text_col)
    return df.select(
        id_col,
        token_count(t).alias("n_tokens"),
        F.length(t).cast("long").alias("n_chars"),
        bpe_ish_token_count(t).alias("n_subwords"),
        non_alnum_count(t).alias("n_non_alnum"),
        lang_id(t).alias("pred_lang"),
        quality_class(t).alias("quality"),
        fingerprint(t).alias("fp"),
    )


# --- PII detection / redaction ----------------------------------------------

#: Patterns restricted to the syntax Java regex (Spark) and RE2 (DuckDB,
#: Go, Rust regex crate) interpret IDENTICALLY — character classes,
#: bounded repetition, \b word boundaries. No backreferences, no
#: lookaround (RE2 has neither), so the same pattern string is portable
#: to any engine a redaction audit might replay on.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\+\d{1,3}-\d{3}-\d+", "<PHONE>"),
}

#: Application order matters: emails first (their local parts may embed
#: digits/dots an IP pattern could nibble), then IPs, then phones.
PII_ORDER = ("email", "ip", "phone")


def redact_pii(text: Column | str) -> Column:
    """Replace every PII match with its placeholder token. A chain of
    regexp_replace calls — all JVM-side, codegen-friendly, no shuffle;
    at 100 TB this runs at scan speed alongside the other narrow maps."""
    out = _col(text)
    for kind in PII_ORDER:
        pattern, token = PII_PATTERNS[kind]
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_counts(text: Column | str) -> list[Column]:
    """One count column per PII kind (pre-redaction hit counts) for
    audit reports; counts run on the raw text so they are independent
    of redaction order."""
    return [
        F.regexp_count(_col(text), F.lit(PII_PATTERNS[kind][0])).cast("long").alias(
            f"n_{kind}"
        )
        for kind in PII_ORDER
    ]


def rare_token_stats(
    df: DataFrame,
    top_k_vocab: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary-based quality signals: per-doc token totals and counts
    of tokens OUTSIDE the corpus' top-K vocabulary — the standard cheap
    OOV/quality filter for corpus curation (a doc that is mostly
    rare/garbage tokens is boilerplate, OCR noise, or another language).

    Two passes, both scale-shaped:

    pass 1: one posting build (explode + count) aggregates the term
    table; the top-K vocabulary is a deterministic
    ``orderBy(count desc, token asc).limit(K)`` —
    TakeOrderedAndProject, never a full sort — collected to the driver
    (bounded: K strings).
    pass 2: rare counting is a NARROW map — an array filter against the
    K-term set folded into the plan as an InSet literal. No second
    corpus shuffle, no join; the scan is the cost.

    Output (all BIGINT, cross-engine exact):
    (doc_id, n_tokens, n_rare, n_distinct_rare).
    """
    toks_df = spread(
        df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__toks"))
    )
    vocab_rows = (
        toks_df.select(F.explode("__toks").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("t"))
        .limit(top_k_vocab)
        .collect()
    )
    vocab = [r["t"] for r in vocab_rows]
    rare = F.filter(F.col("__toks"), lambda t: ~t.isin(*vocab))
    return toks_df.select(
        "doc_id",
        F.size("__toks").cast("long").alias("n_tokens"),
        F.size(rare).cast("long").alias("n_rare"),
        F.size(F.array_distinct(rare)).cast("long").alias("n_distinct_rare"),
    )


# --- Gopher-style composite quality rules -----------------------------------

#: Default thresholds for :func:`gopher_rules`, adapted from the published
#: Gopher corpus-filtering heuristics (Rae et al. 2021, "Scaling Language
#: Models: ... Gopher", table A1) to integer-exact arithmetic.  The
#: original rules use fractional ratios (mean word length 3-10, symbol
#: ratio <= 0.1, >= 2 stop words); these constants express the identical
#: comparisons through cross-multiplication so the classification carries
#: no float, and an external audit (the DuckDB oracle) replays it exactly.
GOPHER_DEFAULTS: dict[str, int] = {
    "min_tokens": 20,
    "max_tokens": 1000,
    "min_mean_word_len": 3,   # mean token length lower bound (chars)
    "max_mean_word_len": 10,  # mean token length upper bound (chars)
    "max_symbol_pct": 10,     # non-alphanumeric chars <= 10% of chars
    "min_stopwords": 2,       # at least 2 English stop words
}


def gopher_rules(
    text: Column | str, params: dict[str, int] | None = None
) -> dict[str, Column]:
    """Per-rule violation flags for the Gopher-style quality filter —
    a dict of boolean Columns (True = the document VIOLATES the rule).

    All five rules are narrow column expressions over one text column —
    no shuffle, codegen-friendly; at 100 TB this annotates at scan
    speed next to the other per-document profilers.  Mean word length
    is evaluated as ``(n_chars - (n_tokens - 1))`` vs
    ``bound * n_tokens`` (total token chars, assuming single-space
    joins, cross-multiplied) and the symbol ratio as
    ``n_symbols * 100`` vs ``n_chars * max_pct`` — integer comparisons
    only, so the flags are bit-identical on any engine.
    """
    return gopher_rules_from_counts(**gopher_counts(text), params=params)


def gopher_counts(text: Column | str) -> dict[str, Column]:
    """The four ingredient counts the Gopher rules consume, as named
    columns.  Materialize these in their OWN projection when several
    rules will reference them (the tokenize/regex work is the expensive
    part; as plain attributes the rule flags are free), then feed the
    attributes to :func:`gopher_rules_from_counts`."""
    return {
        "n_tok": token_count(text),
        "n_chars": F.length(_col(text)).cast("long"),
        "n_sym": non_alnum_count(text),
        "n_stop": stopword_hits(text, LANG_STOPWORDS["en"]),
    }


def gopher_rules_from_counts(
    n_tok: Column,
    n_chars: Column,
    n_sym: Column,
    n_stop: Column,
    params: dict[str, int] | None = None,
) -> dict[str, Column]:
    """Rule flags from pre-computed ingredient counts (see
    :func:`gopher_counts`); all comparisons integer-exact."""
    p = {**GOPHER_DEFAULTS, **(params or {})}
    word_chars = n_chars - (n_tok - F.lit(1))
    return {
        "too_short": n_tok < F.lit(p["min_tokens"]),
        "too_long": n_tok > F.lit(p["max_tokens"]),
        "word_len_out": (word_chars < n_tok * F.lit(p["min_mean_word_len"]))
        | (word_chars > n_tok * F.lit(p["max_mean_word_len"])),
        "symbol_heavy": n_sym * F.lit(100) > n_chars * F.lit(p["max_symbol_pct"]),
        "low_stopwords": n_stop < F.lit(p["min_stopwords"]),
    }


def _pairs(t: Column) -> Column:
    """The adjacent ``(left_tok, right_tok)`` struct array of a token
    array — ``t[:-1]`` zipped with ``t[1:]`` in-row; empty below 2
    tokens."""
    n = F.size(t)
    return F.zip_with(
        F.slice(t, 1, n - F.lit(1)),
        F.slice(t, 2, n - F.lit(1)),
        lambda l, r: F.struct(l.alias("left_tok"), r.alias("right_tok")),
    )


def _unigrams(df: DataFrame, text_col: str) -> DataFrame:
    """The corpus unigram count table ``(w, cnt)``: one explode plus a
    map-side-combined aggregate, vocabulary-sized."""
    return (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _join_unigrams(pairs: DataFrame, uni: DataFrame) -> DataFrame:
    """``pairs`` with the broadcast unigram counts of its two sides as
    ``cl`` (left_tok) and ``cr`` (right_tok)."""
    ul = uni.select(F.col("w").alias("left_tok"), F.col("cnt").alias("cl"))
    ur = uni.select(F.col("w").alias("right_tok"), F.col("cnt").alias("cr"))
    return pairs.join(F.broadcast(ul), "left_tok").join(F.broadcast(ur), "right_tok")


def adjacent_pairs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """All adjacent token pairs of every document — the count table a
    BPE/WordPiece tokenizer trainer consumes for its merge step (the
    most frequent pair becomes the next merge rule).

    :func:`_pairs` builds the pair structs inside the row (JVM-side,
    no Python), one explode streams them out, and the caller's
    ``groupBy(left_tok, right_tok).count()`` partially aggregates
    map-side — so at 100 TB the shuffle carries
    only the distinct-pair partial counts (bounded by vocabulary²
    observed, in practice far smaller), never the corpus.
    """
    df = spread(df)  # single-file demo inputs must not serialize the explode
    return df.select(F.explode(_pairs(tokens(text_col))).alias("p")).select(
        "p.left_tok", "p.right_tok"
    )


def unigram_nll(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus'
    own unigram language model — the classic cheap perplexity-style
    quality score (CCNet trains a real LM; the unigram self-model is
    the shuffle-only approximation that needs no external artifact).
    High ``avg_nll`` = the document is made of corpus-rare tokens.

    Plan shape: one explode + hash aggregate builds the unigram count
    table (vocabulary-sized — broadcastable at any corpus scale: even
    a 100 TB web corpus has a token vocabulary in the low millions);
    token scoring is then a broadcast join, and the per-document
    reduction is a second hash aggregate.  The corpus-total token
    count rides a one-row crossJoin, not a driver collect.  The
    per-document sum of ``ln(count)`` terms folds in token order (see
    the module docstring).

    Output: ``(doc_id, n_tokens, avg_nll DOUBLE)``.
    """
    df = spread(df)
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(text_col)).alias("pos", "w"),
    )
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = uni.agg(F.sum("cnt").alias("n_total"))
    scored = tok.join(F.broadcast(uni), "w").select(
        "doc_id", "pos", F.log(F.col("cnt").cast("double")).alias("lp")
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), _ordered_sum("pos", "lp").alias("ll")
    )
    return agg.crossJoin(F.broadcast(total)).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (
            (
                F.col("n_tokens").cast("double")
                * F.log(F.col("n_total").cast("double"))
                - F.col("ll")
            )
            / F.col("n_tokens").cast("double")
        ).alias("avg_nll"),
    )


def bigram_nll(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus'
    own INTERPOLATED BIGRAM language model — one modeling step past
    :func:`unigram_nll` toward the CCNet recipe, still entirely
    self-contained (no external LM artifact):

        p(w_i | w_{i-1}) = 0.5 * c(w_{i-1} w_i) / c(w_{i-1})
                         + 0.5 * c(w_i) / N

    (fixed Jelinek-Mercer interpolation with the corpus unigram as the
    backoff, so unseen-in-context tokens never zero out).  High
    ``avg_nll`` = the document's token TRANSITIONS are corpus-rare —
    catches shuffled/garbled text that unigram perplexity (a pure
    bag-of-words score) cannot, since a permuted document has
    identical unigram nll but broken bigrams.

    Plan shape: the bigram count table aggregates map-side and joins
    back SHUFFLED on (l, r) — bigram vocabulary is corpus-sized, so
    unlike the unigram table it is never broadcast; both unigram
    lookups and the corpus total ride broadcasts.  Scoring positions
    are the n-1 adjacent pairs (:func:`_pairs`), carried with their
    in-document position; each lp is one fixed IEEE tree (div, mul,
    div, mul, add, ln) and the per-document sum folds in position
    order (see the module docstring).

    Output: ``(doc_id, n_bigrams, avg_nll DOUBLE)`` — documents with
    fewer than 2 tokens have no bigram and emit no row.
    """
    df = spread(df)
    pairs = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(_pairs(tokens(text_col))).alias("pos", "p"),
    ).select("doc_id", "pos", "p.left_tok", "p.right_tok")
    uni = _unigrams(df, text_col)
    total = uni.agg(F.sum("cnt").alias("n_total"))
    big = pairs.groupBy("left_tok", "right_tok").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        _join_unigrams(pairs.join(big, ["left_tok", "right_tok"]), uni)
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "pos",
            F.log(
                F.lit(0.5)
                * (F.col("cb").cast("double") / F.col("cl").cast("double"))
                + F.lit(0.5)
                * (
                    F.col("cr").cast("double")
                    / F.col("n_total").cast("double")
                )
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (-_ordered_sum("pos", "lp") / F.count(F.lit(1)).cast("double")).alias(
            "avg_nll"
        ),
    )


def pmi_pairs(
    df: DataFrame, text_col: str = "text", min_count: int = 5
) -> DataFrame:
    """Pointwise-mutual-information collocations over adjacent token
    pairs — the phrase-mining / multi-word-expression pass a tokenizer
    or vocabulary build runs after raw pair counting
    (:func:`adjacent_pairs` supplies the bigram table).

    ``pmi = ln(c(l,r) * N / (c(l) * c(r)))`` with ``N`` = total pair
    occurrences.  The unigram table is vocabulary-sized (broadcast);
    the bigram aggregate partially combines map-side; ``N`` rides a
    one-row broadcast crossJoin.  ``min_count`` suppresses the
    unstable low-frequency tail (classic PMI failure mode).

    The score is one IEEE tree — integer counts cast to double, two
    multiplies, one divide, one ln (see the module docstring).

    Output: ``(left_tok, right_tok, pair_count, pmi)``.
    """
    pairs = adjacent_pairs(df, text_col=text_col)
    big = pairs.groupBy("left_tok", "right_tok").agg(
        F.count(F.lit(1)).alias("pair_count")
    )
    n = big.agg(F.sum("pair_count").alias("np"))
    return (
        _join_unigrams(
            big.filter(F.col("pair_count") >= F.lit(min_count)),
            _unigrams(df, text_col),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "left_tok",
            "right_tok",
            "pair_count",
            F.log(
                (F.col("pair_count").cast("double") * F.col("np").cast("double"))
                / (F.col("cl").cast("double") * F.col("cr").cast("double"))
            ).alias("pmi"),
        )
    )


def hashed_token_weight(tok: Column, weight_mod: int = 2001) -> Column:
    """Deterministic integer weight for a token under the hashing trick:
    its :func:`hashed_feature` bucket shifted to the symmetric range
    ``[-(weight_mod//2), weight_mod//2]``.

    In production the weight table comes from a trained model
    (broadcast ``map_from_entries`` lookup with the same feature
    hasher); the hash-derived surrogate keeps the full inference
    plumbing testable without shipping model weights.
    """
    return hashed_feature(tok, weight_mod) - F.lit(weight_mod // 2)


def _label(df: DataFrame, score: Column, threshold: int) -> DataFrame:
    """``df`` plus ``score`` and ``label`` ('keep' iff
    ``score >= threshold``, else 'drop')."""
    return df.withColumn("score", score).withColumn(
        "label", F.when(F.col("score") >= threshold, "keep").otherwise("drop")
    )


def hashed_linear_score(
    df: DataFrame,
    text_col: str = "text",
    weight_mod: int = 2001,
    threshold: int = 0,
) -> DataFrame:
    """FastText-shaped linear text classifier INFERENCE: score every
    document as the sum of per-token hashed-feature weights, label by
    sign.  Adds ``score`` (BIGINT) and ``label`` ('keep' iff
    ``score >= threshold``).

    This is the distributed shape of quality-classifier scoring (the
    CCNet / fastText quality gate most corpus pipelines run): feature
    hashing -> weight lookup -> linear sum -> threshold.  Everything is
    an IN-ROW array fold over the token array — a narrow map with zero
    shuffles, scan-bound at any corpus size; integer weights make the
    score associative and engine-exact (no float summation order).
    """
    score = F.aggregate(
        tokens(F.col(text_col), " "),
        F.lit(0).cast("long"),
        lambda acc, t: acc + hashed_token_weight(t, weight_mod),
    )
    return _label(df, score, threshold)


def hashed_feature(tok: Column, feature_mod: int = 2001) -> Column:
    """Feature-bucket id for a token under the hashing trick: the first
    8 hex chars of md5(token) as an integer (see the module docstring),
    modulo ``feature_mod`` — the nonnegative bucket ``[0, feature_mod)``
    (the md5-derived integer is < 2^32, so ``%`` is nonnegative in
    every engine)."""
    h = F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")
    return h % F.lit(feature_mod)


def _class_counts(flag: str, pos: str, neg: str) -> list[Column]:
    """Aggregates: BIGINT counts of the rows where boolean ``flag`` is
    true (``pos``) and where it is not (``neg``)."""
    f = F.col(flag)
    return [
        F.sum(F.when(f, 1).otherwise(0)).cast("long").alias(pos),
        F.sum(F.when(f, 0).otherwise(1)).cast("long").alias(neg),
    ]


def _feature_rows(
    df: DataFrame, text_col: str, feature_mod: int, **keep: str
) -> DataFrame:
    """One row per space-split token occurrence: the columns of
    ``keep`` (alias -> source column) plus the token's hashed
    ``feature`` bucket."""
    return df.select(
        *[F.col(c).alias(a) for a, c in keep.items()],
        F.explode(tokens(text_col, " ")).alias("__t"),
    ).select(*keep, hashed_feature(F.col("__t"), feature_mod).alias("feature"))


def nb_train_weights(
    labeled: DataFrame,
    label_col: str,
    text_col: str = "text",
    feature_mod: int = 2001,
    scale: int = 1_000_000,
) -> DataFrame:
    """DISTRIBUTED training for the hashed linear classifier (VERDICT
    r5 item 6 — closes the inference-only gap of
    :func:`hashed_linear_score`): closed-form Naive-Bayes-style
    count-based weights over labeled documents, learned in ONE hash
    aggregate.

    ``label_col`` is a boolean column (True = positive/keep).  Every
    token occurrence maps to its hashed feature bucket; one
    ``groupBy(feature)`` counts positive and negative occurrences
    (map-side combined — the shuffle is at most ``feature_mod`` rows
    per partition regardless of corpus size), and the weight is the
    CENTERED ADD-ONE-SMOOTHED CLASS POSTERIOR in integer fixed point::

        weight = ((n_pos + 1) * scale) div (n_pos + n_neg + 2)
                 - scale div 2

    i.e. ``scale * (P_hat(pos | f) - 1/2)`` under Laplace smoothing,
    truncating integer division.  This is the engine-exact form of
    NB log-count weights: it is a strictly monotone per-feature
    statistic of the empirical log-odds, but every arithmetic step is
    integer (log-space weights would go through ``ln``; see the module
    docstring).  An unseen
    feature's smoothed weight is exactly 0 (``(0+1)*scale div 2 -
    scale div 2``, scale even), so scoring can coalesce misses to 0
    and remain faithful to the smoothing.

    Output: ``(feature, n_pos, n_neg, weight)`` — BIGINT only.  The
    table is bounded by ``feature_mod`` rows (driver/broadcast-sized
    BY CONSTRUCTION — the hashing trick's point), never by corpus
    size.
    """
    if scale % 2 != 0:
        raise ValueError("nb_train_weights: scale must be even")
    counts = (
        _feature_rows(labeled, text_col, feature_mod, __pos=label_col)
        .groupBy("feature")
        .agg(*_class_counts("__pos", "n_pos", "n_neg"))
    )
    return counts.select(
        "feature",
        "n_pos",
        "n_neg",
        F.expr(
            f"((n_pos + 1) * {scale}) div (n_pos + n_neg + 2) "
            f"- {scale} div 2"
        ).cast("long").alias("weight"),
    )


def hashed_linear_score_trained(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    feature_mod: int = 2001,
    threshold: int = 0,
) -> DataFrame:
    """Score documents with TRAINED weights (:func:`nb_train_weights`)
    instead of the md5 surrogate — the full train -> broadcast ->
    infer loop.

    The weight table collapses to a single map literal
    (``map_from_entries`` over at most ``feature_mod`` entries) that
    rides a broadcast one-row cross join, so scoring stays the same
    zero-shuffle in-row fold as :func:`hashed_linear_score`: tokenize,
    hash, ``element_at`` the broadcast map (missing feature ->
    coalesce 0 = the exact smoothed-unseen weight), integer-sum,
    threshold.  Adds ``score`` (BIGINT) and ``label``.
    """
    wmap = weights.agg(
        F.map_from_entries(
            F.collect_list(F.struct("feature", "weight"))
        ).alias("__wmap")
    )
    score = F.aggregate(
        tokens(F.col(text_col), " "),
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.coalesce(
            F.element_at(
                F.col("__wmap"), hashed_feature(t, feature_mod)
            ),
            F.lit(0).cast("long"),
        ),
    )
    return _label(df.crossJoin(F.broadcast(wmap)), score, threshold).drop("__wmap")


def source_kl_rank(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group token-distribution drift: KL(P_group || P_corpus) in
    nats, emitted as a BIGINT rank (KL desc, group tiebreak) plus the
    integer mass/vocabulary counts it derives from.  The mixture-
    monitoring metric a corpus build tracks per ingest wave.

    KL sums over the GROUP's support only (p_g(w) = 0 terms vanish in
    the limit), so no smoothing constant enters and every input is an
    integer count: term_w = (c_gw/n_g) * (ln c_gw + ln N - ln C_w -
    ln n_g).

    Plan shape: one explode feeds a (group, token) hash aggregate
    (map-side combine); the corpus count table re-aggregates FROM
    those rows (no second corpus scan) and is vocabulary-sized ->
    broadcast, as are the per-group totals and the corpus total, so
    the only corpus-proportional shuffle is the first aggregate.
    Per-group state is bounded by the vocabulary (low millions even at
    100 TB — the unigram-LM broadcast's bound), not by the corpus.

    The divergence double stays internal and only the rank crosses; the
    sum folds in ``w`` order (see the module docstring), and inter-group
    KL gaps dwarf ulp noise.
    """
    tok = df.select(
        F.col(group_col).alias("g"), F.explode(tokens(text_col)).alias("w")
    )
    sc = finalize(tok.groupBy("g", "w").agg(F.count(F.lit(1)).alias("c")))
    corp = sc.groupBy("w").agg(F.sum("c").alias("cw"))
    ns = sc.groupBy("g").agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("vocab_terms")
    )
    tot = corp.agg(F.sum("cw").alias("n"))
    term = (F.col("c").cast("double") / F.col("n_tokens").cast("double")) * (
        F.log(F.col("c").cast("double"))
        + F.log(F.col("n").cast("double"))
        - F.log(F.col("cw").cast("double"))
        - F.log(F.col("n_tokens").cast("double"))
    )
    terms = (
        sc.join(F.broadcast(corp), "w")
        .join(F.broadcast(ns.select("g", "n_tokens")), "g")
        .crossJoin(F.broadcast(tot))
        .select("g", "w", term.alias("term"))
    )
    agg = terms.groupBy("g").agg(_ordered_sum("w", "term").alias("kl_nat"))
    w = Window.orderBy(F.col("kl_nat").desc(), "g")
    return (
        ns.join(agg, "g")
        .select(
            F.col("g").alias(group_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("vocab_terms").cast("long").alias("vocab_terms"),
            F.row_number().over(w).cast("long").alias("drift_rank"),
        )
    )


def dsir_topk(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    feature_mod: int = 1024,
    k: int = 100,
) -> DataFrame:
    """Data Selection with Importance Resampling [Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"],
    deterministic top-k form: score every NON-target ("raw") document
    by its hashed-unigram log importance weight against the target
    domain and keep the k highest — the cheap distribution-matching
    selector a corpus build runs to up-sample target-like data from a
    raw crawl.

    Per raw document d:  lw(d) = sum_{tokens t} ln p_hat(b_t) -
    ln q_hat(b_t), where b_t is the token's md5 feature bucket
    (:func:`hashed_feature`) and p_hat / q_hat are the add-one-smoothed
    bucket distributions of the target / raw corpus halves.  DSIR
    proper resamples with Gumbel noise; the deterministic variant
    ranks by lw with an id tiebreak so the selection is reproducible
    and oracle-checkable (randomless top-k is the paper's "top-k
    heuristic" baseline, Sec 4.1).

    Plan shape: one posexplode feeds (a) the bucket count table —
    bounded by ``feature_mod`` rows BY CONSTRUCTION, so the log-ratio
    table broadcasts at any corpus scale — and (b) the scoring join
    (broadcast, zero shuffle); the per-doc reduction is one hash
    aggregate and the final top-k is orderBy+limit =
    TakeOrderedAndProject (k rows per partition, never a global sort).
    The corpus is tokenized twice (count pass + score pass) — the
    honest two-scan cost of exact corpus-derived distributions, same
    trade as source_mixture_plan.

    Per-token terms fold per-bucket into one fixed IEEE tree
    ((ln(ct+1) - ln(cr+1)) + (ln(nr+B) - ln(nt+B))) and the per-doc sum
    folds in position order; the double stays internal and only the
    BIGINT ``sel_rank`` crosses (see the module docstring).

    Output: ``(doc_id, n_tokens, sel_rank)`` for the k selected raw
    documents, rank 1 = most target-like.
    """
    df = spread(df)
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        target.alias("__is_t"),
        F.posexplode(tokens(text_col)).alias("pos", "w"),
    ).select(
        "doc_id",
        "__is_t",
        "pos",
        hashed_feature(F.col("w"), feature_mod).alias("b"),
    )
    counts = tok.groupBy("b").agg(*_class_counts("__is_t", "ct", "cr"))
    totals = counts.agg(
        F.sum("ct").cast("long").alias("nt"), F.sum("cr").cast("long").alias("nr")
    )
    bmod = float(feature_mod)
    ratio = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            (
                F.log(F.col("ct").cast("double") + F.lit(1.0))
                - F.log(F.col("cr").cast("double") + F.lit(1.0))
            )
            + (
                F.log(F.col("nr").cast("double") + F.lit(bmod))
                - F.log(F.col("nt").cast("double") + F.lit(bmod))
            )
        ).alias("lr"),
    )
    scored = tok.filter(~F.col("__is_t")).join(F.broadcast(ratio), "b")
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), _ordered_sum("pos", "lr").alias("lw")
    )
    top = agg.orderBy(F.col("lw").desc(), "doc_id").limit(k)
    w = Window.orderBy(F.col("lw").desc(), "doc_id")
    return top.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.row_number().over(w).cast("long").alias("sel_rank"),
    )


def perceptron_train(
    labeled: DataFrame,
    label_col: str,
    id_col: str,
    text_col: str = "text",
    feature_mod: int = 2001,
    rounds: int = 4,
):
    """Distributed ITERATIVE training for the hashed linear classifier
    — the gradient-descent-shaped companion to the closed-form
    :func:`nb_train_weights`: full-batch perceptron [Rosenblatt 1958;
    the batch subgradient form], unit step, K synchronous rounds.

    Per round, with current weights w: every doc's margin is
    ``sum_f w_f * x_{d,f}`` (x = token counts per hashed feature);
    docs on the wrong side (positive with margin <= 0, negative with
    margin >= 0 — boundary counted as error so the all-zero init
    breaks symmetry) contribute ``±x_d`` to the batch update
    ``w <- w + sum_errors y_d x_d``.  Unit step means NO division and
    NO float anywhere — every round is exact integer algebra, so a
    fixed-unroll SQL twin replays the ENTIRE training trajectory
    bit-for-bit (the property neither float SGD nor log-space NB can
    offer).

    Returns ``(weights, curve)``: ``weights`` a dict
    ``feature -> weight`` (at most ``feature_mod`` entries — the
    hashing trick bounds driver state BY CONSTRUCTION), ``curve`` a
    list of ``(round, n_errors, weight_l1)`` rows — n_errors measured
    BEFORE that round's update, weight_l1 after it.

    ``id_col`` must be a real unique document id (NEVER
    monotonically_increasing_id — partitioning-dependent, the exact
    non-determinism this engine re-specified away).  Token-less
    documents contribute no design-matrix rows and therefore no
    updates.

    Scale shape: the (doc, feature, count) design matrix is built once
    (one explode + hash aggregate) and persisted DISK_ONLY; each round
    is one broadcast join of the M-row weight table + two map-side-
    combinable aggregates, and its error count is observed by the
    error rows' checkpoint job (``util.materialize``, the round
    primitive of ``graph.py``); driver traffic is M rows per round (the
    same bounded-loop contract as BPE training's 1 row/round).
    Weights grow by at most sum(|x|) per round — BIGINT-safe into the
    billions of token occurrences; roll the margin sum in
    decimal(38,0) beyond that.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    x = (
        _feature_rows(labeled, text_col, feature_mod, __pos=label_col, __rid=id_col)
        .groupBy("__rid", "__pos", "feature")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(StorageLevel.DISK_ONLY)
    )
    spark = labeled.sparkSession
    weights: dict[int, int] = {}
    curve: list[tuple[int, int, int]] = []
    try:
        for r in range(1, rounds + 1):
            if weights:
                wdf = F.broadcast(
                    spark.createDataFrame(
                        list(weights.items()), "feature long, w long"
                    )
                )
                joined = x.join(wdf, "feature", "left").withColumn(
                    "w", F.coalesce("w", F.lit(0))
                )
            else:
                joined = x.withColumn("w", F.lit(0).cast("long"))
            margins = joined.groupBy("__rid", "__pos").agg(
                F.sum(F.col("cnt") * F.col("w")).alias("m")
            )
            # util.materialize: the round's error rows are checkpointed
            # once (the gradient join reads them without recomputing the
            # margins pass) and their count is observed by that same
            # job, so no count job follows.  Blocks are freed when the
            # next round replaces the frame.
            err, n_errors = materialize(
                margins.filter(
                    (F.col("__pos") & (F.col("m") <= 0))
                    | (~F.col("__pos") & (F.col("m") >= 0))
                ).select("__rid", "__pos"),
                F.count(F.lit(1)),
            )
            grad = (
                x.join(err, ["__rid", "__pos"])
                .groupBy("feature")
                .agg(
                    F.sum(
                        F.when(F.col("__pos"), F.col("cnt")).otherwise(
                            -F.col("cnt")
                        )
                    ).alias("g")
                )
            )
            for row in grad.collect():
                weights[row["feature"]] = (
                    weights.get(row["feature"], 0) + row["g"]
                )
            w_l1 = sum(abs(v) for v in weights.values())
            curve.append((r, n_errors, w_l1))
    finally:
        x.unpersist()
    return weights, curve
