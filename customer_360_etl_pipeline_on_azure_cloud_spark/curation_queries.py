"""Training-data curation queries: dataset splits, PII redaction,
repetition scoring, benchmark contamination, numeric correlation.

These are the corpus-governance operations a 100 TB pretraining pipeline
runs between raw ingest and tokenization — each expressed as narrow maps
and hash aggregations (never all-pairs, never driver loops), each with a
full rows+schema+hash DuckDB oracle.

Exactness rules follow testdata_queries.py: integer comparisons for all
thresholds, md5 (engine-portable) for hash gates and digests, identical
IEEE expression trees when a double must cross engines, and regex
restricted to the Java∩RE2 common syntax so both engines interpret the
same pattern string identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.dedup import word_shingles
from .operators.sampling import split_assign, split_band_sql
from .operators.text import PII_ORDER, PII_PATTERNS, pii_counts, redact_pii
from .operators.util import finalize, spread
from .sources.tables import _t

CURATION_QUERIES: dict = {}


# --- deterministic train/val/test split -------------------------------------

SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-banded train/val/test assignment + per-(split, lang) corpus
    accounting (doc and token totals) — the report a curation run emits
    before materializing splits.

    Scale notes: the assignment is a narrow map (pure function of
    doc_id; provably disjoint+exhaustive bands, see
    operators/sampling.py:split_assign), so the only shuffle is the
    final small aggregation. At 100 TB the same plan holds: scan →
    map → partial agg → 1 small exchange.
    """
    d = split_assign(_t(spark, sf_dir, "documents"), "doc_id", SPLIT_FRACTIONS)
    return d.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("text")), " ")).cast("long")).alias(
            "total_tokens"
        ),
    )


SQL_DATASET_SPLIT = f"""
SELECT {split_band_sql("doc_id", SPLIT_FRACTIONS)} AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens
FROM documents
GROUP BY 1, 2
"""

CURATION_QUERIES["dataset_split"] = (q_dataset_split, SQL_DATASET_SPLIT)


# --- PII redaction audit ----------------------------------------------------


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect-and-redact audit over the corpus. The synthetic corpus is
    PII-clean, so the query PLANTS deterministic PII (an email, a phone,
    an IP derived from doc_id) before redacting — both engines build the
    identical planted text, so the oracle verifies the redaction rules
    themselves, not a vacuous no-op. Output: per-doc hit counts per PII
    kind + md5 of the redacted text (proves the replacement bytes, not
    just the counts).

    Scale notes: regexp_count/regexp_replace chains are JVM codegen
    narrow maps — this runs at scan speed with zero shuffles (the
    output is per-document, no aggregation).
    """
    d = spread(_t(spark, sf_dir, "documents"))
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.col("doc_id").cast("string"),
        F.lit(" at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    return d.select(
        "doc_id",
        *pii_counts(planted),
        F.md5(redact_pii(planted)).alias("redacted_md5"),
    )


_PII_PLANT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@mail.example.com or +1-555-' || CAST(doc_id AS VARCHAR) || "
    "' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
)


def _pii_redact_sql(inner: str) -> str:
    out = inner
    for kind in PII_ORDER:
        pattern, token = PII_PATTERNS[kind]
        out = f"regexp_replace({out}, '{pattern}', '{token}', 'g')"
    return out


SQL_PII_REDACTION = f"""
WITH planted AS (SELECT doc_id, {_PII_PLANT_SQL} AS p FROM documents)
SELECT doc_id,
       {", ".join(
           f"CAST(len(regexp_extract_all(p, '{PII_PATTERNS[k][0]}')) AS BIGINT)"
           f" AS n_{k}"
           for k in PII_ORDER
       )},
       md5({_pii_redact_sql("p")}) AS redacted_md5
FROM planted
"""

CURATION_QUERIES["pii_redaction"] = (q_pii_redaction, SQL_PII_REDACTION)


# --- repetition scoring (Gopher-style quality rule) -------------------------


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate-bigram fraction — the classic "repetitive
    document" quality gate: a doc whose word-bigram stream is >=20%
    duplicates is flagged. Integer-only comparison keeps the flag
    engine-exact.

    The bigram array is built inside a let-binding lambda
    (``transform(array(split(..)), t -> ...)``) so CollapseProject
    cannot inline the tokenization into every element of the inner
    lambda — without the binding, Catalyst re-evaluates split() per
    bigram (the interpreted-HOF trap documented in operators/dedup.py).
    Narrow map + no shuffle; at 100 TB this is scan-bound.
    """
    d = spread(_t(spark, sf_dir, "documents"))
    grams = F.element_at(
        F.expr(
            "transform(array(split(trim(text), ' ')), t -> "
            "CASE WHEN size(t) >= 2 THEN "
            "  transform(sequence(2, size(t)), "
            "            i -> concat(element_at(t, i-1), ' ', element_at(t, i))) "
            "ELSE cast(array() as array<string>) END)"
        ),
        1,
    )
    g = d.select("doc_id", grams.alias("g"))
    n = F.size("g").cast("long")
    nd = F.size(F.array_distinct("g")).cast("long")
    return g.select(
        "doc_id",
        n.alias("n_bigrams"),
        nd.alias("n_distinct"),
        (
            (n > 0) & ((n - nd) * 100 >= n * 20)
        ).alias("is_repetitive"),
    )


SQL_DOC_REPETITION = """
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
gr AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS s
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        FROM toks WHERE len(t) >= 2)
),
nd AS (SELECT doc_id, COUNT(DISTINCT s) AS n_distinct FROM gr GROUP BY doc_id)
SELECT toks.doc_id,
       CAST(CASE WHEN len(t) >= 2 THEN len(t)-1 ELSE 0 END AS BIGINT) AS n_bigrams,
       CAST(COALESCE(nd.n_distinct, 0) AS BIGINT) AS n_distinct,
       (CASE WHEN len(t) >= 2 THEN len(t)-1 ELSE 0 END > 0
        AND (CASE WHEN len(t) >= 2 THEN len(t)-1 ELSE 0 END
             - COALESCE(nd.n_distinct, 0)) * 100
            >= CASE WHEN len(t) >= 2 THEN len(t)-1 ELSE 0 END * 20)
         AS is_repetitive
FROM toks LEFT JOIN nd ON toks.doc_id = nd.doc_id
"""

CURATION_QUERIES["doc_repetition"] = (q_doc_repetition, SQL_DOC_REPETITION)


# --- benchmark contamination check ------------------------------------------


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination scan: which corpus documents share >=50%
    of their distinct word-3-grams with a benchmark set (here: every
    97th document stands in for the held-out benchmark). The real-world
    decontamination pass before training on scraped data.

    Scale notes: benchmark n-gram vocabularies are small (eval sets are
    MBs, not TBs) → broadcast them; the corpus side is one explode + one
    hash aggregation — no self-join, no all-pairs. The exploded shingle
    table is persisted once (three consumers) and released via
    finalize(); at 100 TB the broadcast stays constant-size while the
    corpus side scales linearly.
    """
    d = spread(_t(spark, sf_dir, "documents"))
    return contamination_report(
        d, bench_filter=F.col("doc_id") % 97 == 0, threshold_pct=50
    )


def contamination_report(
    df: DataFrame,
    bench_filter: Column,
    threshold_pct: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """Shared construction for the contamination scan (lazy form
    inspectable by plan tests via ``materialize=False``; the default
    eagerly finalizes so the persisted shingle table is released)."""
    sh = df.select(
        id_col, F.explode(word_shingles(text_col, n)).alias("s")
    ).persist()
    bench = F.broadcast(sh.filter(bench_filter).select("s").distinct())
    corp = sh.filter(~bench_filter)
    own = corp.groupBy(id_col).agg(F.count(F.lit(1)).alias("own_grams"))
    hits = (
        corp.join(bench, "s")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("bench_hits"))
    )
    out = (
        own.join(hits, id_col, "left")
        .na.fill(0, ["bench_hits"])
        .select(
            id_col,
            "own_grams",
            "bench_hits",
            (
                F.col("bench_hits") * 100 >= F.col("own_grams") * threshold_pct
            ).alias("contaminated"),
        )
    )
    if not materialize:
        return out
    return finalize(out, sh)


SQL_CONTAMINATION_CHECK = """
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
        FROM toks WHERE len(t) >= 3)
),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
corp AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
own AS (SELECT doc_id, COUNT(*) AS own_grams FROM corp GROUP BY doc_id),
hits AS (SELECT corp.doc_id, COUNT(*) AS bench_hits
         FROM corp JOIN bench USING (s) GROUP BY corp.doc_id)
SELECT own.doc_id, own.own_grams,
       CAST(COALESCE(hits.bench_hits, 0) AS BIGINT) AS bench_hits,
       COALESCE(hits.bench_hits, 0) * 100 >= own.own_grams * 50 AS contaminated
FROM own LEFT JOIN hits ON own.doc_id = hits.doc_id
"""

CURATION_QUERIES["contamination_check"] = (
    q_contamination_check,
    SQL_CONTAMINATION_CHECK,
)


def q_decontamination_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY eval-set decontamination at SPAN level (operators/dedup.py
    remove_contaminated_spans): every corpus token covered by a word
    3-gram that also occurs in the benchmark set (every 97th document,
    as in contamination_check) is cut, overlapping hits merged into
    maximal ranges first — so a lightly contaminated document keeps
    its clean remainder instead of being dropped whole.  The
    completion of contamination_check the same way substring_dedup
    _apply completes duplicate_passages: flags -> surgical cut.

    Plan: benchmark 3-gram vocabulary distinct + BROADCAST (eval sets
    are MBs); corpus side is one posexplode + broadcast semi-join +
    ONE per-doc shuffle for the in-row interval merge; the cut itself
    is in-row array algebra.  The oracle rebuilds every cleaned text
    in DuckDB (islands CTE + positional NOT EXISTS + ordered
    string_agg) — the clean_text column is hash-compared
    byte-for-byte."""
    from .operators.dedup import remove_contaminated_spans

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return remove_contaminated_spans(corpus, bench, n=3)


SQL_DECONTAMINATION_APPLY = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), g AS (
  SELECT doc_id,
         unnest(generate_series(1, len(t) - 2)) AS pos,
         unnest(list_transform(generate_series(1, len(t) - 2),
                               i -> array_to_string(t[i:i + 2], ' '))) AS gram
  FROM toks WHERE len(t) >= 3
), bench AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
), sp AS (
  SELECT doc_id, pos FROM g
  WHERE doc_id % 97 <> 0 AND gram IN (SELECT gram FROM bench)
), flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= 3 THEN 0 ELSE 1 END AS brk
  FROM sp
), isl AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM flagged
), spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 2 AS e
  FROM isl GROUP BY doc_id, island
), tokpos AS (
  SELECT doc_id, unnest(t) AS tok,
         unnest(generate_series(1, len(t))) AS pos
  FROM toks WHERE doc_id % 97 <> 0
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
WHERE t.doc_id % 97 <> 0
"""

CURATION_QUERIES["decontamination_apply"] = (
    q_decontamination_apply,
    SQL_DECONTAMINATION_APPLY,
)


# --- numeric correlation matrix ---------------------------------------------

#: (label, pair) entries for the lineitem correlation report.
_CORR_PAIRS = [
    ("qty_price", "q", "p"),
    ("qty_discount", "q", "d"),
    ("price_discount", "p", "d"),
]


def q_numeric_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over lineitem's numeric columns
    (quantity, price-dollars, discount-bps) computed from INTEGER
    moment sums — one aggregation pass, then the closed-form r in
    doubles with the identical expression tree on both engines, so the
    result is bit-exact across engines (double sums would be
    partition-order-dependent; integer sums are associative).

    Scale notes: single scan → partial aggregation → 1-row result;
    products are summed as decimal(38,0) so the moments cannot overflow
    at any corpus size. The 3-row unpivot happens on the 1-row agg.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity"), 0).cast("long").alias("q"),
        F.round(F.col("l_extendedprice"), 0).cast("long").alias("p"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d"),
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in ("q", "p", "d"):
        aggs.append(F.sum(c).alias(f"s{c}"))
    for a, b in (("q", "q"), ("p", "p"), ("d", "d"), ("q", "p"), ("q", "d"), ("p", "d")):
        aggs.append(
            F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)")).alias(f"s{a}{b}")
        )
    s = li.agg(*aggs)

    def dbl(name: str) -> Column:
        return F.col(name).cast("double")

    def corr(a: str, b: str) -> Column:
        return (dbl("n") * dbl(f"s{a}{b}") - dbl(f"s{a}") * dbl(f"s{b}")) / (
            F.sqrt(dbl("n") * dbl(f"s{a}{a}") - dbl(f"s{a}") * dbl(f"s{a}"))
            * F.sqrt(dbl("n") * dbl(f"s{b}{b}") - dbl(f"s{b}") * dbl(f"s{b}"))
        )

    return s.select(
        *[corr(a, b).alias(label) for label, a, b in _CORR_PAIRS]
    ).selectExpr(
        "stack(3, "
        + ", ".join(f"'{label}', {label}" for label, _, _ in _CORR_PAIRS)
        + ") AS (pair, corr)"
    )


def _corr_sql(a: str, b: str) -> str:
    def dbl(name: str) -> str:
        return f"CAST({name} AS DOUBLE)"

    return (
        f"({dbl('n')} * {dbl('s'+a+b)} - {dbl('s'+a)} * {dbl('s'+b)}) / "
        f"(sqrt({dbl('n')} * {dbl('s'+a+a)} - {dbl('s'+a)} * {dbl('s'+a)}) * "
        f"sqrt({dbl('n')} * {dbl('s'+b+b)} - {dbl('s'+b)} * {dbl('s'+b)}))"
    )


SQL_NUMERIC_CORRELATION = f"""
WITH c AS (
  SELECT CAST(ROUND(l_quantity, 0) AS BIGINT) AS q,
         CAST(ROUND(l_extendedprice, 0) AS BIGINT) AS p,
         CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS d
  FROM lineitem
),
s AS (
  SELECT COUNT(*) AS n,
         SUM(q) AS sq, SUM(p) AS sp, SUM(d) AS sd,
         SUM(q*q) AS sqq, SUM(q*p) AS sqp, SUM(q*d) AS sqd,
         SUM(p*p) AS spp, SUM(p*d) AS spd, SUM(d*d) AS sdd
  FROM c
)
SELECT 'qty_price' AS pair, {_corr_sql("q", "p")} AS corr FROM s
UNION ALL
SELECT 'qty_discount', {_corr_sql("q", "d")} FROM s
UNION ALL
SELECT 'price_discount', {_corr_sql("p", "d")} FROM s
"""

CURATION_QUERIES["numeric_correlation"] = (
    q_numeric_correlation,
    SQL_NUMERIC_CORRELATION,
)


# --- fixed-size token chunking with stride ----------------------------------

_CHUNK, _STRIDE = 32, 24


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slice every document into 32-token chunks with stride 24 (8-token
    overlap) — the standard context-window chunking step before
    tokenization/embedding. One generator per document (explode of the
    chunk-start sequence), then pure array slicing: the tokenization is
    computed once per input row in the projection below the Generate
    (pipelined in codegen, NOT re-evaluated per chunk), and the output
    is (doc, chunk ordinal, start, length, text).

    Scale notes: narrow map + generate — zero shuffles, output rows ~
    tokens/stride per doc. At 100 TB this is the shape you want: chunk
    locality follows document locality, no repartition needed before a
    partitioned write.
    """
    d = spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("t")
    )
    e = d.select(
        "doc_id",
        "t",
        F.explode(F.expr(f"sequence(1, size(t), {_STRIDE})")).alias("start"),
    )
    return e.select(
        "doc_id",
        F.expr(f"CAST((start - 1) DIV {_STRIDE} AS BIGINT)").alias("chunk_id"),
        F.col("start").cast("long").alias("start_pos"),
        F.expr(
            f"slice(t, start, least({_CHUNK}, size(t) - start + 1))"
        ).alias("c"),
    ).select(
        "doc_id",
        "chunk_id",
        "start_pos",
        F.size("c").cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.col("c")).alias("chunk_text"),
    )


SQL_DOC_CHUNKING = f"""
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
starts AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t), {_STRIDE})) AS i
  FROM toks
)
SELECT doc_id,
       CAST((i - 1) // {_STRIDE} AS BIGINT) AS chunk_id,
       CAST(i AS BIGINT) AS start_pos,
       CAST(len(t[i:least(i + {_CHUNK} - 1, len(t))]) AS BIGINT) AS n_tokens,
       array_to_string(t[i:least(i + {_CHUNK} - 1, len(t))], ' ') AS chunk_text
FROM starts
"""

CURATION_QUERIES["doc_chunking"] = (q_doc_chunking, SQL_DOC_CHUNKING)


# --- per-stratum quota sampling ---------------------------------------------

_QUOTA = 40


def q_lang_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-N-per-language selection: rank documents inside each
    language by md5(doc_id) (a deterministic stand-in for random order)
    and keep the first 40 — quota sampling where rates must be EXACT
    counts, not expected values. The (hash, doc_id) order is total, so
    the pick set is unique and layout-independent.

    Scale notes: one hash-partitioned window per language. When a
    stratum dominates (skewed lang distribution at 100 TB), switch to
    the two-phase top-k in operators/windows.py:top_k_per_group — same
    semantics, per-partition pre-top-k before the shuffle caps the
    window input at partitions*quota rows.
    """
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    w = Window.partitionBy("lang").orderBy(gate.asc(), F.col("doc_id").asc())
    return (
        d.withColumn("pick_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("pick_rank") <= _QUOTA)
    )


SQL_LANG_QUOTA_SAMPLE = f"""
SELECT doc_id, lang, pick_rank
FROM (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
         ) AS BIGINT) AS pick_rank
  FROM documents
)
WHERE pick_rank <= {_QUOTA}
"""

CURATION_QUERIES["lang_quota_sample"] = (
    q_lang_quota_sample,
    SQL_LANG_QUOTA_SAMPLE,
)


# --- source-mixture planning (token-budget sampling rates) ------------------

_PER_SOURCE_TOKEN_TARGET = 600.0


def q_source_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: compute per-source keep-rates that hit a token
    budget (600 tokens per source here), apply them with the integer
    md5 gate, and report planned vs achieved per source. This is the
    mixture-weighting pass every pretraining corpus build runs: rates
    derive from aggregate token counts, selection stays a deterministic
    pure function of doc_id.

    Scale notes: the per-source plan is aggregate-sized (one row per
    source) → broadcast back onto the corpus; the corpus is scanned
    twice (count pass + gate pass) which at 100 TB is the honest cost
    of budget-exact rates — cache only the tiny plan, never the corpus.
    The thresholds are integers in the output, so the oracle replays
    the selection bit-for-bit.
    """
    from .operators.sampling import gate_int

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("long").alias("ntok"),
    )
    totals = docs.groupBy("source").agg(
        F.sum("ntok").alias("tokens_total"),
        F.count(F.lit(1)).alias("n_docs_total"),
    )
    rate = F.least(
        F.lit(1.0),
        F.lit(_PER_SOURCE_TOKEN_TARGET) / F.col("tokens_total").cast("double"),
    )
    plan = totals.withColumn(
        "thr", F.floor(rate * F.lit(4294967296.0)).cast("long")
    )
    kept = (
        docs.join(F.broadcast(plan.select("source", "thr")), "source")
        .filter(gate_int(F.col("doc_id")) < F.col("thr"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("ntok").alias("tokens_kept"),
        )
    )
    return (
        plan.join(kept, "source", "left")
        .na.fill(0, ["n_docs_kept", "tokens_kept"])
        .select(
            "source",
            "n_docs_total",
            "tokens_total",
            "thr",
            "n_docs_kept",
            "tokens_kept",
        )
    )


SQL_SOURCE_MIXTURE_PLAN = f"""
WITH docs AS (
  SELECT doc_id, source,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS ntok
  FROM documents
),
tot AS (
  SELECT source, SUM(ntok) AS tokens_total, COUNT(*) AS n_docs_total
  FROM docs GROUP BY source
),
plan AS (
  SELECT source, n_docs_total, CAST(tokens_total AS BIGINT) AS tokens_total,
         CAST(FLOOR(LEAST(1.0::DOUBLE,
                          {_PER_SOURCE_TOKEN_TARGET}::DOUBLE
                            / CAST(tokens_total AS DOUBLE))
                    * 4294967296.0::DOUBLE) AS BIGINT) AS thr
  FROM tot
),
kept AS (
  SELECT d.source, COUNT(*) AS n_docs_kept, SUM(d.ntok) AS tokens_kept
  FROM docs d JOIN plan p USING (source)
  WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
             AS BIGINT) < p.thr
  GROUP BY d.source
)
SELECT p.source, p.n_docs_total, p.tokens_total, p.thr,
       CAST(COALESCE(k.n_docs_kept, 0) AS BIGINT) AS n_docs_kept,
       CAST(COALESCE(k.tokens_kept, 0) AS BIGINT) AS tokens_kept
FROM plan p LEFT JOIN kept k USING (source)
"""

CURATION_QUERIES["source_mixture_plan"] = (
    q_source_mixture_plan,
    SQL_SOURCE_MIXTURE_PLAN,
)


# --- exact-budget epoch assembly (greedy prefix fill) ------------------------

_EPOCH_TOKEN_BUDGET = 5000


def q_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-budget epoch assembly — the deterministic sibling of
    source_mixture_plan's rate-based selection: order each source's
    documents by (md5(doc_id), doc_id) — a deterministic stand-in for
    random order, the lang_quota_sample idiom — and keep the maximal
    PREFIX whose cumulative token count stays within the per-source
    budget.  Rate gates hit a budget only in expectation; epoch
    assembly for a training run wants the exact greedy fill ("give me
    ~5000 tokens of each source, same docs on every rerun"), which is
    one cumulative-sum window per source.

    Cross-engine pinning (r10 driver gate): the order key is the md5
    prefix converted to BIGINT (the ``gate_int`` idiom that the
    driver-green importance_resample / source-mixture selectors use)
    rather than the raw hex VARCHAR — numeric order on the fixed-width
    hex prefix is identical to its lexicographic order, and a BIGINT
    sort key cannot be perturbed by any engine-version collation or
    string-comparison difference.

    Scale notes: the window is one hash-partition shuffle on source
    (the running sum needs each source's order, exactly like the quota
    sampler); a corpus-dominating source at 100 TB range-partitions on
    (source, gate-bucket) with per-bucket subtotals first — the
    standard two-phase prefix-sum — but the single-window form is the
    honest per-source-budget plan.  Output is BIGINT-only per-source
    accounting (totals, kept counts, kept tokens), so the oracle
    replays the selection bit-for-bit."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("long").alias("ntok"),
    )
    from .operators.sampling import gate_int

    gate = gate_int(F.col("doc_id"))
    w = (
        Window.partitionBy("source")
        .orderBy(gate.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept = (
        d.withColumn("cum", F.sum("ntok").over(w))
        .filter(F.col("cum") <= F.lit(_EPOCH_TOKEN_BUDGET))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("ntok").alias("tokens_kept"),
        )
    )
    totals = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_total"),
        F.sum("ntok").alias("tokens_total"),
    )
    return (
        totals.join(kept, "source", "left")
        .na.fill(0, ["n_docs_kept", "tokens_kept"])
        .select(
            "source",
            "n_docs_total",
            "tokens_total",
            F.col("n_docs_kept").cast("long").alias("n_docs_kept"),
            F.col("tokens_kept").cast("long").alias("tokens_kept"),
        )
    )


SQL_TOKEN_BUDGET_FILL = f"""
WITH docs AS (
  SELECT doc_id, source,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS ntok
  FROM documents
),
cum AS (
  SELECT source, ntok,
         SUM(ntok) OVER (
           PARTITION BY source
           ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                             1, 8)) AS BIGINT),
                    doc_id
           ROWS UNBOUNDED PRECEDING
         ) AS cum
  FROM docs
),
kept AS (
  SELECT source, COUNT(*) AS n_docs_kept, SUM(ntok) AS tokens_kept
  FROM cum WHERE cum <= {_EPOCH_TOKEN_BUDGET} GROUP BY source
),
tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_total,
         CAST(SUM(ntok) AS BIGINT) AS tokens_total
  FROM docs GROUP BY source
)
SELECT t.source, t.n_docs_total, t.tokens_total,
       CAST(COALESCE(k.n_docs_kept, 0) AS BIGINT) AS n_docs_kept,
       CAST(COALESCE(k.tokens_kept, 0) AS BIGINT) AS tokens_kept
FROM tot t LEFT JOIN kept k USING (source)
"""

CURATION_QUERIES["token_budget_fill"] = (
    q_token_budget_fill,
    SQL_TOKEN_BUDGET_FILL,
)


# --- distinctive-keyword extraction (integer-exact tf-idf ranking) ----------


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document, ranked by (tf DESC, df ASC,
    term ASC) — the tf-idf ordering without the float idf: for a fixed
    document, log(N/df) is monotone decreasing in df, so ranking by
    (tf desc, df asc) reproduces tf*idf's order wherever tf ties break
    by rarity, and the all-integer sort key keeps the pick set
    engine-exact (float tf-idf scores tie-break unpredictably).

    Scale notes: term frequencies partial-aggregate; the document
    frequency table is vocabulary-sized -> broadcast back; top-3 is a
    bounded window per doc. Never materializes a doc x vocab matrix.
    """
    from pyspark.sql import Window

    d = spread(_t(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "rank")
    )


SQL_TFIDF_KEYWORDS = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
SELECT doc_id, term, tf, df, rank FROM (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf DESC, df.df ASC, tf.term ASC
         ) AS BIGINT) AS rank
  FROM tf JOIN df ON tf.term = df.term
)
WHERE rank <= 3
"""

CURATION_QUERIES["tfidf_keywords"] = (q_tfidf_keywords, SQL_TFIDF_KEYWORDS)


# --- approx-quantile accuracy statement (scale-default verification) --------


def q_group_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The library's SCALE default for quantiles is percentile_approx
    (KLL-style mergeable sketch, one shuffle, bounded memory — the exact
    form materializes the column per group). This query restates that
    default as a driver-checkable accuracy statement: per return-flag
    group, the approx median must land within the exact [p45, p55]
    value band (accuracy=10000 guarantees rank error <= n/10000, orders
    of magnitude tighter than the band). Violating groups are emitted;
    the oracle asserts the violation set is EMPTY — same pattern as the
    simhash completeness check.
    """
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_quantity", 0.5, 10000).alias("approx_p50"),
        F.percentile("l_quantity", F.lit(0.45)).alias("lo"),
        F.percentile("l_quantity", F.lit(0.55)).alias("hi"),
    )
    return g.filter(
        (F.col("approx_p50") < F.col("lo")) | (F.col("approx_p50") > F.col("hi"))
    ).select("l_returnflag", "approx_p50", "lo", "hi")


SQL_GROUP_QUANTILES_APPROX = """
SELECT l_returnflag,
       CAST(NULL AS DOUBLE) AS approx_p50,
       CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi
FROM lineitem WHERE FALSE
"""

CURATION_QUERIES["group_quantiles_approx"] = (
    q_group_quantiles_approx,
    SQL_GROUP_QUANTILES_APPROX,
)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier INFERENCE over every document
    (operators/text.py hashed_linear_score): feature-hash each token,
    look up an integer weight, sum in-row, threshold to keep/drop —
    the distributed shape of the fastText/CCNet quality gate every
    corpus pipeline runs before training.

    The weight table here is the deterministic md5 surrogate
    (hashed_token_weight) because the container ships no trained
    model; swapping in trained weights is a broadcast
    map_from_entries lookup on the same hasher, leaving the plan
    unchanged.

    Scale notes: a pure narrow map — tokenize + in-row integer fold,
    zero shuffles, scan-bound at any corpus size; integer weights
    make the score associative and engine-exact.
    """
    from .operators.text import hashed_linear_score

    docs = _t(spark, sf_dir, "documents")
    return hashed_linear_score(docs, text_col="text").select(
        "doc_id", "source", "score", "label"
    )


SQL_QUALITY_CLASSIFIER = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents
),
s AS (
  SELECT doc_id,
         SUM(CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
             % 2001 - 1000) AS score
  FROM tok GROUP BY doc_id
)
SELECT d.doc_id, d.source,
       CAST(COALESCE(s.score, 0) AS BIGINT) AS score,
       CASE WHEN COALESCE(s.score, 0) >= 0 THEN 'keep' ELSE 'drop' END AS label
FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
"""

CURATION_QUERIES["quality_classifier_score"] = (
    q_quality_classifier,
    SQL_QUALITY_CLASSIFIER,
)


def q_source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard: document counts, classifier
    keep-rate, aggregate score, and token volume for every source —
    the report a corpus owner reads before deciding per-source
    sampling weights (the input source_mixture_plan consumes).

    Scale notes: the classifier score and token count are in-row
    expressions on the scan; ONE hash aggregate by source (map-side
    combine over ~20 groups) produces the report.  BIGINT-only
    outputs, so cross-engine exact.
    """
    from .operators.text import hashed_linear_score

    docs = _t(spark, sf_dir, "documents")
    scored = hashed_linear_score(docs, text_col="text")
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("label") == "keep", 1).otherwise(0)).alias(
            "n_keep"
        ),
        F.sum("score").alias("score_sum"),
        F.sum(F.size(F.split(F.trim(F.col("text")), " ")).cast("long")).alias(
            "token_sum"
        ),
    )


SQL_SOURCE_QUALITY_REPORT = """
WITH s AS (
  SELECT d.doc_id, d.source,
         len(string_split(trim(d.text), ' ')) AS ntok,
         (SELECT COALESCE(SUM(
             CAST(concat('0x', substr(md5(t.t), 1, 8)) AS BIGINT)
             % 2001 - 1000), 0)
          FROM (SELECT unnest(string_split(trim(d.text), ' ')) AS t) t
         ) AS score
  FROM documents d
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE score >= 0) AS BIGINT) AS n_keep,
       CAST(SUM(score) AS BIGINT) AS score_sum,
       CAST(SUM(ntok) AS BIGINT) AS token_sum
FROM s GROUP BY source
"""

CURATION_QUERIES["source_quality_report"] = (
    q_source_quality_report,
    SQL_SOURCE_QUALITY_REPORT,
)


def q_quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed TRAINING for the quality classifier (operators/
    text.py nb_train_weights — VERDICT r5 item 6): the even-doc_id
    half of the corpus is the labeled set (positive = lang 'en'),
    every token occurrence maps to its md5 feature bucket, and ONE
    hash aggregate learns closed-form count-based weights — the
    centered add-one-smoothed class posterior in integer fixed point,
    the engine-exact form of Naive-Bayes log-count weights.  The
    learned table is bounded by feature_mod (2001) rows regardless of
    corpus size; quality_classifier_trained_score consumes it.  A
    pure-Python reference on a learnable synthetic corpus is pinned
    in tests/test_curation.py."""
    from .operators.text import nb_train_weights

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "__label", F.col("lang") == "en"
    )
    return nb_train_weights(labeled, "__label", text_col="text")


SQL_QUALITY_CLASSIFIER_TRAIN = """
WITH tok AS (
  SELECT (lang = 'en') AS pos,
         unnest(string_split(trim(text), ' ')) AS t
  FROM documents WHERE doc_id % 2 = 0
),
counts AS (
  SELECT CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 2001
           AS feature,
         CAST(COUNT(*) FILTER (WHERE pos) AS BIGINT) AS n_pos,
         CAST(COUNT(*) FILTER (WHERE NOT pos) AS BIGINT) AS n_neg
  FROM tok GROUP BY 1
)
SELECT feature, n_pos, n_neg,
       CAST(((n_pos + 1) * 1000000) // (n_pos + n_neg + 2) - 500000
            AS BIGINT) AS weight
FROM counts
"""

CURATION_QUERIES["quality_classifier_train"] = (
    q_quality_classifier_train,
    SQL_QUALITY_CLASSIFIER_TRAIN,
)


def q_quality_classifier_trained_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full train -> broadcast -> infer loop: weights learned on
    the labeled half (quality_classifier_train) score EVERY document
    through the broadcast map_from_entries lookup
    (operators/text.py hashed_linear_score_trained) — same
    zero-shuffle in-row integer fold as quality_classifier_score,
    with learned weights in place of the md5 surrogate (unseen
    features coalesce to the exact smoothed weight, 0)."""
    from .operators.text import (
        hashed_linear_score_trained,
        nb_train_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "__label", F.col("lang") == "en"
    )
    weights = nb_train_weights(labeled, "__label", text_col="text")
    return hashed_linear_score_trained(docs, weights).select(
        "doc_id", "source", "score", "label"
    )


SQL_QUALITY_CLASSIFIER_TRAINED_SCORE = """
WITH tok AS (
  SELECT (lang = 'en') AS pos,
         unnest(string_split(trim(text), ' ')) AS t
  FROM documents WHERE doc_id % 2 = 0
),
counts AS (
  SELECT CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 2001
           AS feature,
         COUNT(*) FILTER (WHERE pos) AS n_pos,
         COUNT(*) FILTER (WHERE NOT pos) AS n_neg
  FROM tok GROUP BY 1
),
w AS (
  SELECT feature,
         ((n_pos + 1) * 1000000) // (n_pos + n_neg + 2) - 500000 AS weight
  FROM counts
),
dtok AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(t.t), 1, 8)) AS BIGINT) % 2001 AS f
  FROM documents d,
       LATERAL (SELECT unnest(string_split(trim(d.text), ' ')) AS t) t
),
s AS (
  SELECT dtok.doc_id, SUM(COALESCE(w.weight, 0)) AS score
  FROM dtok LEFT JOIN w ON w.feature = dtok.f
  GROUP BY dtok.doc_id
)
SELECT d.doc_id, d.source,
       CAST(COALESCE(s.score, 0) AS BIGINT) AS score,
       CASE WHEN COALESCE(s.score, 0) >= 0 THEN 'keep' ELSE 'drop' END
         AS label
FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
"""

CURATION_QUERIES["quality_classifier_trained_score"] = (
    q_quality_classifier_trained_score,
    SQL_QUALITY_CLASSIFIER_TRAINED_SCORE,
)


def q_streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED quality gate AT INGEST RATE — the composition a
    corpus pipeline actually deploys, assembled from this round's
    pieces: weights learned once on the labeled half
    (operators/text.py nb_train_weights), document arrivals delivered
    as >= 2 file-source micro-batches, each batch scored with the
    broadcast-map trained classifier (hashed_linear_score_trained) and
    WRITTEN to the per-batch parquet sink (sink_foreach_batch — no
    driver-side accumulation), result = the sink read back.

    Scoring is a pure per-row function of the (fixed) weights, so the
    union over micro-batches equals the one-shot batch result and this
    SHARES quality_classifier_trained_score's exact oracle — the
    equality is the batching-invariance statement, same contract as
    streaming_dq_gate."""
    import os
    import tempfile

    from .operators.text import (
        hashed_linear_score_trained,
        nb_train_weights,
    )
    from .streaming.incremental import (
        read_batch_sink,
        sink_foreach_batch,
        stream_file_source,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "__label", F.col("lang") == "en"
    )
    # train ONCE, not once per micro-batch: the learned table is
    # feature_mod-bounded by construction (<= 2001 rows), so pinning it
    # as a local frame is the legit bounded-broadcast pattern
    trained = nb_train_weights(labeled, "__label", text_col="text")
    weights = spark.createDataFrame(trained.collect(), trained.schema)

    tmp = tempfile.mkdtemp(prefix="c360_stream_gate_")
    arrivals = os.path.join(tmp, "arrivals")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(arrivals)
    docs.filter(F.col("doc_id") % 2 != 0).coalesce(1).write.mode(
        "append"
    ).parquet(arrivals)

    stream = stream_file_source(
        spark, arrivals, docs.schema, max_files_per_trigger=1
    )
    sink = os.path.join(tmp, "scored")

    def gate(batch_df: DataFrame) -> DataFrame:
        return hashed_linear_score_trained(batch_df, weights).select(
            "doc_id", "source", "score", "label"
        )

    sink_foreach_batch(stream, os.path.join(tmp, "ckpt"), sink, gate)
    return read_batch_sink(spark, sink).select(
        "doc_id", "source", "score", "label"
    )


CURATION_QUERIES["streaming_quality_gate"] = (
    q_streaming_quality_gate,
    SQL_QUALITY_CLASSIFIER_TRAINED_SCORE,
)


def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Gram matrix in fixed point
    (operators/similarity.py embedding_gram_fixed): the one-scan
    aggregate feeding exact PCA / covariance whitening of the
    embedding column — the d x d result is the only thing that leaves
    the cluster; its driver-side eigendecomposition is the projection
    a vector store trains for dimensionality reduction.

    Scale notes: in-row upper-triangle expansion, one hash aggregate
    with a d^2-bounded key space (map-side combine -> shuffle carries
    d^2 x partitions rows at any corpus size); integer products/sums
    are associative, so the result is partition- and engine-exact.
    """
    from .operators.similarity import embedding_gram_fixed

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_gram_fixed(emb, vec_col="embedding", scale=10**6)


SQL_EMBEDDING_GRAM = """
WITH fp AS (
  SELECT list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS f
  FROM embeddings
),
prods AS (
  SELECT ii.i - 1 AS i, jj.j - 1 AS j, f[ii.i] * f[jj.j] AS p
  FROM fp,
       unnest(generate_series(1, len(f))) AS ii(i),
       unnest(generate_series(1, len(f))) AS jj(j)
  WHERE jj.j >= ii.i
)
SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       CAST(SUM(p) AS BIGINT) AS gram_fp
FROM prods GROUP BY i, j
"""

CURATION_QUERIES["embedding_gram"] = (q_embedding_gram, SQL_EMBEDDING_GRAM)


# --- per-source distribution drift (KL divergence vs the corpus) ------------


def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift: KL(P_source || P_corpus) in
    nats for every source, plus the integer mass/vocabulary counts the
    divergence derives from.  This is the mixture-monitoring metric a
    corpus build tracks per ingest wave — a source whose divergence
    jumps is drifting away from the blend the model was tuned on, and
    the per-source rows feed directly into reweighting decisions
    (source_mixture_plan consumes the same per-source aggregates).

    KL sums over the SOURCE's support only (p_s(w) = 0 terms vanish in
    the limit), so no smoothing constant enters and every input is an
    integer count: term_w = (c_sw/n_s) * (ln c_sw + ln N - ln C_w -
    ln n_s).

    Plan shape: one explode feeds a (source, token) hash aggregate
    (partial map-side combine); the corpus count table re-aggregates
    FROM those rows (no second corpus scan) and is vocabulary-sized ->
    broadcast; per-source totals and the corpus total ride broadcasts
    too, so the only corpus-proportional shuffle is the first
    aggregate.  Per-source state is bounded by the vocabulary (low
    millions even at 100 TB — same bound the unigram-LM broadcast
    relies on), not by the corpus.

    Cross-engine exactness: ``ln`` is NOT bit-portable (the JVM's
    fdlibm log and glibc's differ by 1 ulp on many integer inputs —
    ln(3) among them, measured in this container), so the divergence
    double stays INTERNAL: the emitted column is ``drift_rank``
    (BIGINT, KL desc with source tiebreak) — the doc_lm_perplexity
    scheme.  The pinned-order fold (array_sort + left fold == DuckDB
    list_reduce over an ORDER BY w list) still makes each engine's
    sum deterministic under any partitioning, and inter-source KL
    gaps (~1e-3 nats on this corpus) dwarf ulp noise, so the rank is
    engine-stable.  A pure-Python third implementation is pinned in
    tests/test_curation.py.
    """
    from .operators.text import source_kl_rank

    docs = _t(spark, sf_dir, "documents")
    return source_kl_rank(docs, group_col="source", text_col="text")


SQL_SOURCE_KL_DIVERGENCE = """
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents
), sc AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY source, w
), corp AS (
  SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM sc GROUP BY w
), ns AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab_terms
  FROM sc GROUP BY source
), tot AS (
  SELECT CAST(SUM(cw) AS BIGINT) AS n FROM corp
), terms AS (
  SELECT sc.source, sc.w,
         (sc.c::DOUBLE / ns.n_tokens::DOUBLE)
           * (ln(sc.c::DOUBLE) + ln(tot.n::DOUBLE)
              - ln(corp.cw::DOUBLE) - ln(ns.n_tokens::DOUBLE)) AS term
  FROM sc
  JOIN corp ON sc.w = corp.w
  JOIN ns ON sc.source = ns.source
  CROSS JOIN tot
), agg AS (
  SELECT source,
         list_reduce(list_prepend(0.0::DOUBLE, list(term ORDER BY w)),
                     (a, b) -> a + b) AS kl_nat
  FROM terms GROUP BY source
)
SELECT ns.source, ns.n_tokens, ns.vocab_terms,
       CAST(ROW_NUMBER() OVER (ORDER BY agg.kl_nat DESC, ns.source)
            AS BIGINT) AS drift_rank
FROM ns JOIN agg ON ns.source = agg.source
"""

CURATION_QUERIES["source_kl_divergence"] = (
    q_source_kl_divergence,
    SQL_SOURCE_KL_DIVERGENCE,
)


# --- deterministic epoch-shuffle shard manifest ------------------------------

_SHARD_EPOCH = 1
_N_SHARDS = 8


def q_training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch shuffling as a manifest: every document gets a
    deterministic pseudo-random 32-bit key from md5(epoch || doc_id),
    the key's residue picks one of N shards, and rank within the shard
    is the key order — so each epoch is a different, reproducible
    global permutation and a trainer can stream shard s of epoch e
    with no coordination beyond (e, s).  This is the "global shuffle"
    step between packing and training that a naive pipeline does with
    ORDER BY rand() (non-reproducible, one total sort).

    Plan shape: the key and shard are narrow in-row expressions; the
    only shuffle is the per-shard rank window — a sort of 1/N of the
    corpus per shard, which at 100 TB is the honest (and
    embarrassingly parallel) cost of materializing within-shard order.
    Per-epoch re-manifest touches only this column set, never the
    text.

    Exactness: md5-derived keys are engine-portable (the repo's gate
    idiom), ranks are BIGINT, ties impossible (key collisions broken
    by doc_id).  Epoch-permutation, coverage, and contiguity
    properties are pinned in tests/test_curation.py.
    """
    from .operators.sampling import shard_manifest
    from .operators.text import token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("ntok")
    )
    return shard_manifest(
        docs,
        "doc_id",
        epoch=_SHARD_EPOCH,
        n_shards=_N_SHARDS,
        carry_cols=("ntok",),
    )


SQL_TRAINING_SHARD_MANIFEST = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ntok,
         CAST(concat('0x',
              substr(md5(CAST(doc_id AS VARCHAR) || 'epoch{_SHARD_EPOCH}:'),
                     1, 8)) AS BIGINT) AS k
  FROM documents
)
SELECT doc_id, CAST(k % {_N_SHARDS} AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY k % {_N_SHARDS}
                               ORDER BY k, doc_id) AS BIGINT) AS pos_in_shard,
       ntok
FROM d
"""

CURATION_QUERIES["training_shard_manifest"] = (
    q_training_shard_manifest,
    SQL_TRAINING_SHARD_MANIFEST,
)


# --- DSIR importance selection (target-domain distribution matching) --------

_DSIR_MOD = 1024
_DSIR_K = 100


def q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (operators/text.py dsir_topk): rank
    every non-English document by its hashed-unigram log importance
    weight against the English half of the corpus and keep the 100
    most English-like — the distribution-matching selector [Xie et
    al. 2023] a pretraining build uses to up-sample target-like data
    from a raw crawl, here in its deterministic top-k form so the
    selection is reproducible and exactly oracle-checkable.

    The bucket count table is bounded by the feature modulus (1024
    rows) -> the log-ratio table broadcasts at any corpus scale; the
    top-k is TakeOrderedAndProject.  Doubles stay internal (pinned
    folds both engines); only BIGINT ranks cross.
    """
    from .operators.text import dsir_topk

    docs = _t(spark, sf_dir, "documents")
    return dsir_topk(
        docs,
        target=F.col("lang") == "en",
        feature_mod=_DSIR_MOD,
        k=_DSIR_K,
    )


SQL_IMPORTANCE_RESAMPLE = f"""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS is_t,
         string_split_regex(trim(text), '\\s+') AS t
  FROM documents
), tok AS (
  SELECT doc_id, is_t,
         unnest(generate_series(1, len(t))) AS pos,
         CAST(concat('0x', substr(md5(unnest(t)), 1, 8)) AS BIGINT)
           % {_DSIR_MOD} AS b
  FROM toks
), cnt AS (
  SELECT b,
         CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cr
  FROM tok GROUP BY b
), tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr FROM cnt
), ratio AS (
  SELECT b,
         (ln(ct::DOUBLE + 1.0) - ln(cr::DOUBLE + 1.0))
           + (ln(nr::DOUBLE + {_DSIR_MOD}.0) - ln(nt::DOUBLE + {_DSIR_MOD}.0))
           AS lr
  FROM cnt CROSS JOIN tot
), per AS (
  SELECT tok.doc_id, tok.pos, ratio.lr
  FROM tok JOIN ratio USING (b) WHERE NOT tok.is_t
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         list_reduce(list_prepend(0.0::DOUBLE, list(lr ORDER BY pos)),
                     (a, b) -> a + b) AS lw
  FROM per GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       CAST(ROW_NUMBER() OVER (ORDER BY lw DESC, doc_id) AS BIGINT)
         AS sel_rank
FROM agg QUALIFY sel_rank <= {_DSIR_K}
"""

CURATION_QUERIES["importance_resample"] = (
    q_importance_resample,
    SQL_IMPORTANCE_RESAMPLE,
)


# --- exact-integer PCA: top-component projection ----------------------------

_PCA_ITERS = 6
_PCA_GN = 1 << 20
_PCA_VS = 4096


def q_embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-component projection of every embedding
    (operators/similarity.py pca_power_project): the one-scan Gram
    aggregate -> bounded driver-side INTEGER power iteration ->
    broadcast integer direction -> in-row exact projection.  The
    whole arithmetic path is integer floor-div / multiply / add, so
    the oracle replays Gram, normalization, all six iterations, and
    the projection bit-for-bit — no float eigensolver crosses
    engines."""
    from .operators.similarity import pca_power_project

    emb = _t(spark, sf_dir, "embeddings")
    return pca_power_project(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        scale=10**6,
        iters=_PCA_ITERS,
        gn_scale=_PCA_GN,
        v_scale=_PCA_VS,
    )


def _fdiv(a: str, b: str) -> str:
    """DuckDB floor division (``//`` truncates toward zero; Python
    floors) — subtract the canonical nonnegative mod first so the
    quotient is exact and truncation == floor."""
    return f"(({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) // ({b})"


def _pca_power_sql(iters: int = _PCA_ITERS) -> str:
    gn = _PCA_GN
    vs = _PCA_VS
    parts = [
        f"""WITH fpq AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS f
  FROM embeddings
), prods AS (
  SELECT ii.i - 1 AS i, jj.j - 1 AS j, f[ii.i] * f[jj.j] AS p
  FROM fpq,
       unnest(generate_series(1, len(f))) AS ii(i),
       unnest(generate_series(1, len(f))) AS jj(j)
  WHERE jj.j >= ii.i
), gram AS MATERIALIZED (
  SELECT i, j, CAST(SUM(p) AS BIGINT) AS g FROM prods GROUP BY i, j
), gfull AS (
  SELECT i, j, g FROM gram
  UNION ALL
  SELECT j AS i, i AS j, g FROM gram WHERE i != j
), gmx AS (
  SELECT MAX(ABS(g)) AS gmax FROM gfull
), gn AS MATERIALIZED (
  SELECT i, j,
         CASE WHEN gmx.gmax = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST({_fdiv(f'CAST(g AS HUGEINT) * {gn}',
                               'CAST(gmx.gmax AS HUGEINT)')} AS BIGINT)
              END AS v
  FROM gfull CROSS JOIN gmx
), v0 AS MATERIALIZED (
  SELECT unnest(generate_series(0,
           (SELECT MAX(i) FROM gram))) AS dim, CAST({vs} AS BIGINT) AS val
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""", u{t} AS MATERIALIZED (
  SELECT g.i AS dim, CAST(SUM(g.v * v.val) AS BIGINT) AS u
  FROM gn g JOIN v{t - 1} v ON g.j = v.dim GROUP BY g.i
), m{t} AS MATERIALIZED (
  SELECT MAX(ABS(u)) AS m FROM u{t}
), v{t} AS MATERIALIZED (
  SELECT u.dim,
         CASE WHEN m.m = 0 THEN vp.val
              ELSE {_fdiv(f'u.u * {vs}', 'm.m')} END AS val
  FROM u{t} u JOIN v{t - 1} vp ON u.dim = vp.dim CROSS JOIN m{t} m
)"""
        )
    parts.append(
        f""", sgn AS (
  SELECT COALESCE((SELECT CASE WHEN val < 0 THEN -1 ELSE 1 END
                   FROM v{iters} WHERE val != 0 ORDER BY dim LIMIT 1),
                  1) AS s
), ex AS (
  SELECT vec_id, unnest(f) AS fv,
         unnest(generate_series(1, len(f))) AS k
  FROM fpq
)
SELECT ex.vec_id,
       CAST(SUM(ex.fv * v.val) * (SELECT s FROM sgn) AS BIGINT) AS pc1_fp
FROM ex JOIN v{iters} v ON ex.k - 1 = v.dim
GROUP BY ex.vec_id"""
    )
    return "".join(parts)


CURATION_QUERIES["embedding_pca_project"] = (
    q_embedding_pca_project,
    _pca_power_sql(),
)


# --- cross-source score calibration by percentile rank -----------------------


def q_quality_rank_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quality-score calibration: raw classifier scores
    are NOT comparable across sources (every domain has its own score
    distribution — web text scores systematically below reference
    text), so budget allocation ranks WITHIN source: each doc gets its
    within-source percentile rank in integer fixed point
    (``pct_fp = (rank-1) * 10^6 div (n-1)``, ties broken by doc_id,
    single-doc sources pinned to 10^6), and ``keep`` marks the top
    half of EVERY source — the rank-normalized gate that keeps a
    uniform fraction per source instead of letting one domain's score
    scale starve the rest.

    Scale notes: scoring is the existing zero-shuffle in-row integer
    fold (hashed_linear_score); ranking is ONE hash shuffle on source
    with a per-source sort — sources are the parallelism unit, and the
    integer percentile makes the result engine- and partition-exact.
    """
    from pyspark.sql import Window

    from .operators.text import hashed_linear_score

    docs = _t(spark, sf_dir, "documents")
    scored = hashed_linear_score(docs, text_col="text").select(
        "doc_id", "source", "score"
    )
    w = Window.partitionBy("source").orderBy("score", "doc_id")
    n = Window.partitionBy("source")
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(n))
        .select(
            "doc_id",
            "source",
            "score",
            F.when(F.col("__n") == 1, F.lit(10**6).cast("long"))
            .otherwise(F.expr("((__rk - 1) * 1000000L) div (__n - 1)"))
            .alias("pct_fp"),
        )
        .withColumn("keep", F.col("pct_fp") >= 500000)
    )


SQL_QUALITY_RANK_CALIBRATION = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents
),
s AS (
  SELECT doc_id,
         SUM(CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
             % 2001 - 1000) AS score
  FROM tok GROUP BY doc_id
),
sc AS (
  SELECT d.doc_id, d.source, CAST(COALESCE(s.score, 0) AS BIGINT) AS score
  FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
),
r AS (
  SELECT doc_id, source, score,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY score, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM sc
)
SELECT doc_id, source, score,
       CAST(CASE WHEN n = 1 THEN 1000000
                 ELSE ((rk - 1) * 1000000) // (n - 1) END AS BIGINT) AS pct_fp,
       CASE WHEN n = 1 THEN 1000000
            ELSE ((rk - 1) * 1000000) // (n - 1) END >= 500000 AS keep
FROM r
"""

CURATION_QUERIES["quality_rank_calibration"] = (
    q_quality_rank_calibration,
    SQL_QUALITY_RANK_CALIBRATION,
)


# --- iterative (perceptron) classifier training --------------------------------

_GD_ROUNDS = 4
_GD_MOD = 2001


def _gd_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared labeled set (same convention as
    quality_classifier_train): even doc_ids, positive = lang 'en'."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "__label", F.col("lang") == "en"
    )


def q_quality_classifier_gd_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE distributed classifier training (operators/text.py
    perceptron_train) next to the closed-form NB trainer: {r} rounds
    of full-batch unit-step perceptron over the hashed design matrix
    — margins via one broadcast join of the M-row weight table per
    round, batch update from the misclassified set, M rows of driver
    traffic per round.  Unit step = NO division and NO float, so the
    oracle replays the ENTIRE training trajectory (not just the final
    weights) as a fixed unroll.  Output: the training curve —
    (round, n_errors BEFORE the round's update, weight_l1 after it).
    A pure-Python reference and the error-descent property are
    pytest-pinned."""
    from .operators.text import perceptron_train

    _, curve = perceptron_train(
        _gd_labeled(spark, sf_dir),
        "__label",
        "doc_id",
        feature_mod=_GD_MOD,
        rounds=_GD_ROUNDS,
    )
    return spark.createDataFrame(
        [(int(r), int(e), int(l)) for r, e, l in curve],
        "round long, n_errors long, weight_l1 long",
    )


q_quality_classifier_gd_train.__doc__ = (
    q_quality_classifier_gd_train.__doc__.format(r=_GD_ROUNDS)
)


def q_quality_classifier_gd_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train (perceptron, {r} rounds) -> broadcast -> score EVERY
    document -> per-source report: the GD twin of
    quality_classifier_trained_score / source_quality_report.  The
    learned table rides the same map_from_entries broadcast and the
    scoring stays the zero-shuffle in-row integer fold; token-less
    documents score the exact 0 the empty fold produces."""
    from .operators.text import (
        hashed_linear_score_trained,
        perceptron_train,
    )

    weights, _ = perceptron_train(
        _gd_labeled(spark, sf_dir),
        "__label",
        "doc_id",
        feature_mod=_GD_MOD,
        rounds=_GD_ROUNDS,
    )
    wdf = spark.createDataFrame(
        list(weights.items()) or [(0, 0)], "feature long, weight long"
    )
    docs = _t(spark, sf_dir, "documents")
    scored = hashed_linear_score_trained(
        docs, wdf, feature_mod=_GD_MOD, threshold=0
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("label") == "keep", 1).otherwise(0))
        .cast("long")
        .alias("n_keep"),
        F.sum("score").alias("total_score"),
    )


q_quality_classifier_gd_score.__doc__ = (
    q_quality_classifier_gd_score.__doc__.format(r=_GD_ROUNDS)
)


def _gd_unroll_sql(rounds: int) -> str:
    """Shared fixed-unroll of the batch-perceptron trajectory: CTEs
    x (design matrix), err{{r}}, w{{r}} for r = 1..rounds."""
    parts = [
        f"""
WITH x AS MATERIALIZED (
  SELECT doc_id, pos,
         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % {_GD_MOD}
           AS feature,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, (lang = 'en') AS pos,
               unnest(string_split(trim(text), ' ')) AS t
        FROM documents WHERE doc_id % 2 = 0)
  GROUP BY 1, 2, 3
),
err1 AS MATERIALIZED (SELECT DISTINCT doc_id, pos FROM x),
w1 AS MATERIALIZED (
  SELECT feature,
         CAST(SUM(CASE WHEN pos THEN cnt ELSE -cnt END) AS BIGINT) AS w
  FROM x JOIN err1 USING (doc_id, pos) GROUP BY feature
)"""
    ]
    for r in range(2, rounds + 1):
        parts.append(
            f""",
mar{r} AS (
  SELECT x.doc_id, x.pos, SUM(x.cnt * COALESCE(w.w, 0)) AS m
  FROM x LEFT JOIN w{r - 1} w USING (feature)
  GROUP BY 1, 2
),
err{r} AS MATERIALIZED (
  SELECT doc_id, pos FROM mar{r}
  WHERE (pos AND m <= 0) OR (NOT pos AND m >= 0)
),
g{r} AS (
  SELECT feature,
         CAST(SUM(CASE WHEN pos THEN cnt ELSE -cnt END) AS BIGINT) AS g
  FROM x JOIN err{r} USING (doc_id, pos) GROUP BY feature
),
w{r} AS MATERIALIZED (
  SELECT feature, CAST(SUM(v) AS BIGINT) AS w FROM (
    SELECT feature, w AS v FROM w{r - 1}
    UNION ALL SELECT feature, g AS v FROM g{r}
  ) GROUP BY feature
)"""
        )
    return "".join(parts)


def _gd_train_sql(rounds: int = _GD_ROUNDS) -> str:
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round,"
        f" (SELECT CAST(COUNT(*) AS BIGINT) FROM err{r}) AS n_errors,"
        f" (SELECT CAST(SUM(ABS(w)) AS BIGINT) FROM w{r}) AS weight_l1"
        for r in range(1, rounds + 1)
    )
    return _gd_unroll_sql(rounds) + "\n" + rows


def _gd_score_sql(rounds: int = _GD_ROUNDS) -> str:
    return (
        _gd_unroll_sql(rounds)
        + f""",
alltok AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % {_GD_MOD}
           AS feature
  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t
        FROM documents)
),
sc AS (
  SELECT a.doc_id, SUM(COALESCE(w.w, 0)) AS score
  FROM alltok a LEFT JOIN w{rounds} w USING (feature)
  GROUP BY a.doc_id
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN COALESCE(sc.score, 0) >= 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_keep,
       CAST(SUM(COALESCE(sc.score, 0)) AS BIGINT) AS total_score
FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
GROUP BY d.source
"""
    )


CURATION_QUERIES["quality_classifier_gd_train"] = (
    q_quality_classifier_gd_train,
    _gd_train_sql(),
)
CURATION_QUERIES["quality_classifier_gd_score"] = (
    q_quality_classifier_gd_score,
    _gd_score_sql(),
)


# --- temperature-scaled mixture quotas ------------------------------------------

_TEMP_DOC_BUDGET = 1000


def q_source_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture allocation — the multilingual-
    pretraining recipe (weights ∝ n^T, T = 1/2 here) next to
    source_mixture_plan's per-source cap: a {b}-document budget is
    split across sources proportionally to isqrt(n_tokens), boosting
    small sources relative to raw proportions, with the fractional
    quotas resolved by LARGEST-REMAINDER (Hamilton) rounding so they
    sum to the budget EXACTLY.

    Every step is exact integer arithmetic: T=1/2 means the weight is
    the INTEGER square root (floor(sqrt) computed from the double and
    then corrected by one exact integer test each way — bit-safe in
    both engines for any int64), the floor quota is
    ``(B * w) div W``, remainders are exact integer residues, and the
    +1 top-ups go to the largest remainders (source tiebreak).  No
    float ratio ever crosses engines.

    Scale notes: one corpus aggregate to source grain; the quota
    algebra runs on the sources-sized frame (the one window is
    sources-bounded).  Applying the plan is the existing md5-gate /
    per-source top-k machinery (source_mixture_plan, lang_quota_sample).
    """
    docs = _t(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("long").alias(
            "ntok"
        ),
    )
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_total"),
        F.sum("ntok").alias("n_tokens"),
    )
    s0 = F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long")
    isqrt = (
        totals.withColumn("s0", s0)
        .withColumn(
            "s1",
            F.col("s0")
            - F.when(F.col("s0") * F.col("s0") > F.col("n_tokens"), 1)
            .otherwise(0),
        )
        .withColumn(
            "w",
            F.col("s1")
            + F.when(
                (F.col("s1") + 1) * (F.col("s1") + 1)
                <= F.col("n_tokens"),
                1,
            ).otherwise(0),
        )
        .drop("s0", "s1")
    )
    tot_w = isqrt.agg(F.sum("w").alias("w_total"))
    q = (
        isqrt.crossJoin(F.broadcast(tot_w))
        .withColumn(
            "q0", F.expr(f"({_TEMP_DOC_BUDGET} * w) div w_total")
        )
        .withColumn("rem", F.expr(f"({_TEMP_DOC_BUDGET} * w) % w_total"))
    )
    wsum = Window.partitionBy()
    wrank = Window.orderBy(F.col("rem").desc(), "source")
    return (
        q.withColumn("leftover", _TEMP_DOC_BUDGET - F.sum("q0").over(wsum))
        .withColumn("rk", F.row_number().over(wrank))
        .select(
            "source",
            "n_docs_total",
            "n_tokens",
            F.col("w").alias("w_isqrt_tokens"),
            (
                F.col("q0")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            ).alias("quota_docs"),
        )
    )


q_source_mixture_temperature.__doc__ = (
    q_source_mixture_temperature.__doc__.format(b=_TEMP_DOC_BUDGET)
)

SQL_SOURCE_MIXTURE_TEMPERATURE = f"""
WITH totals AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs_total,
         CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
isq AS (
  SELECT *,
         CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s0
  FROM totals
),
isq2 AS (
  SELECT *, s0 - CASE WHEN s0 * s0 > n_tokens THEN 1 ELSE 0 END AS s1
  FROM isq
),
wtab AS (
  SELECT source, n_docs_total, n_tokens,
         s1 + CASE WHEN (s1 + 1) * (s1 + 1) <= n_tokens THEN 1 ELSE 0 END
           AS w
  FROM isq2
),
tw AS (SELECT SUM(w) AS w_total FROM wtab),
q AS (
  SELECT wtab.*,
         ({_TEMP_DOC_BUDGET} * w) // w_total AS q0,
         ({_TEMP_DOC_BUDGET} * w) % w_total AS rem
  FROM wtab, tw
),
r AS (
  SELECT *,
         {_TEMP_DOC_BUDGET} - SUM(q0) OVER () AS leftover,
         row_number() OVER (ORDER BY rem DESC, source) AS rk
  FROM q
)
SELECT source, n_docs_total, n_tokens,
       CAST(w AS BIGINT) AS w_isqrt_tokens,
       CAST(q0 + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS quota_docs
FROM r
"""

CURATION_QUERIES["source_mixture_temperature"] = (
    q_source_mixture_temperature,
    SQL_SOURCE_MIXTURE_TEMPERATURE,
)


# --- classifier calibration curve ------------------------------------------------

_CAL_BUCKETS = 10


def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve for the trained quality classifier — the
    model-QA table next to training (does a higher score actually mean
    a higher positive rate?): held-in labeled docs scored with the
    NB-trained weights, bucketed into exact score deciles (the
    integer percentile formula of customer_rfm: decile =
    ((rank-1) * {b}) div n + 1, rank ordered by (score, doc_id) — no
    approximate ntile), and per decile the empirical positive count
    against the score range.  A monotone-ish n_pos/n_docs across
    deciles is what 'the classifier orders quality correctly' means;
    the integer columns let the caller compute the rate at any
    precision.

    Scale notes: train is one hash aggregate (feature_mod-bounded);
    scoring is the zero-shuffle broadcast-map fold.  The decile rank
    runs as ONE unpartitioned window over the labeled set — fine for
    a labeled TRAINING set (always curated, orders of magnitude below
    corpus scale); for corpus-wide calibration swap in the two-pass
    quantile_cutoffs path or partition by source as
    quality_rank_calibration does.
    """
    from .operators.text import (
        hashed_linear_score_trained,
        nb_train_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "__label", F.col("lang") == "en"
    )
    trained = nb_train_weights(labeled, "__label", text_col="text")
    scored = hashed_linear_score_trained(labeled, trained).select(
        "doc_id", "__label", "score"
    )
    w = Window.orderBy("score", "doc_id")
    n1 = Window.partitionBy()
    bucketed = (
        scored.withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(n1))
        .withColumn(
            "decile", F.expr(f"((rk - 1) * {_CAL_BUCKETS}) div n + 1")
        )
    )
    return bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("__label"), 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.min("score").alias("score_lo"),
        F.max("score").alias("score_hi"),
    )


q_classifier_calibration.__doc__ = q_classifier_calibration.__doc__.format(
    b=_CAL_BUCKETS
)

SQL_CLASSIFIER_CALIBRATION = f"""
WITH tok AS (
  SELECT (lang = 'en') AS pos,
         unnest(string_split(trim(text), ' ')) AS t
  FROM documents WHERE doc_id % 2 = 0
),
counts AS (
  SELECT CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 2001
           AS feature,
         CAST(COUNT(*) FILTER (WHERE pos) AS BIGINT) AS n_pos,
         CAST(COUNT(*) FILTER (WHERE NOT pos) AS BIGINT) AS n_neg
  FROM tok GROUP BY 1
),
wts AS (
  SELECT feature,
         ((n_pos + 1) * 1000000) // (n_pos + n_neg + 2) - 500000 AS w
  FROM counts
),
dtok AS (
  SELECT doc_id, (lang = 'en') AS pos,
         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 2001
           AS feature
  FROM (SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS t
        FROM documents WHERE doc_id % 2 = 0)
),
sc AS (
  SELECT d.doc_id, ANY_VALUE(d.pos) AS pos,
         CAST(SUM(COALESCE(w.w, 0)) AS BIGINT) AS score
  FROM dtok d LEFT JOIN wts w USING (feature)
  GROUP BY d.doc_id
),
-- token-less docs score exactly 0 (the empty fold)
allsc AS (
  SELECT l.doc_id, (l.lang = 'en') AS pos,
         COALESCE(sc.score, 0) AS score
  FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 0) l
  LEFT JOIN sc USING (doc_id)
),
rk AS (
  SELECT *, row_number() OVER (ORDER BY score, doc_id) AS r,
         COUNT(*) OVER () AS n
  FROM allsc
)
SELECT ((r - 1) * {_CAL_BUCKETS}) // n + 1 AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE pos) AS BIGINT) AS n_pos,
       MIN(score) AS score_lo,
       MAX(score) AS score_hi
FROM rk GROUP BY 1
"""

CURATION_QUERIES["classifier_calibration"] = (
    q_classifier_calibration,
    SQL_CLASSIFIER_CALIBRATION,
)
